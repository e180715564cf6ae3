package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.ColumnBridge

import graft.functions.FloatDotProduct
import graft.ops.{Ingest, Ranking}

/** Similarity search over embedding columns (SURVEY §2.8 E3):
  * brute-force cosine top-k as the correctness baseline, and a
  * bucketed (LSH-style) variant as the 100 TB path.
  *
  * Float math determinism (the DuckDB oracle hash-compares doubles):
  * every dot product / norm is an explicit LEFT FOLD over the array
  * in element order with float→double widening before the multiply.
  * Both engines then execute the identical IEEE-754 op sequence, so
  * scores match bit-for-bit — no tolerance needed.
  *
  * Scale design: the brute-force path is O(|Q|·|C|) with the query
  * side BROADCAST — the corpus never shuffles and never materializes
  * a cartesian product bigger than one corpus partition × |Q|. The
  * bucketed path shuffles both sides once on the bucket key and
  * scores only within buckets — candidate-bounded, never all-pairs.
  * A production ANN would learn IVF centroids or use random
  * hyperplanes; the sign-bit bucketer below keeps the same plan
  * shape while staying exactly reproducible in the oracle.
  */
object Similarity {

  /** Left-fold dot product of two float arrays, widened to double per
    * element. Implemented as a native codegen'd Expression
    * ([[graft.functions.FloatDotProduct]]): Catalyst lambda functions
    * evaluate interpreted per element, which dominates runtime at
    * 64 dims × millions of candidate pairs.
    */
  def dot(a: Column, b: Column): Column =
    ColumnBridge.column(FloatDotProduct(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Squared L2 norm (same fold as [[dot]] with a=b). */
  def norm2(a: Column): Column = dot(a, a)

  /** Cosine from a precomputed dot and squared norms. */
  def cosineFrom(dotAb: Column, n2a: Column, n2b: Column): Column =
    dotAb / (sqrt(n2a) * sqrt(n2b))

  /** Sign-bit bucket key over the first `nBits` dimensions — an
    * axis-aligned random-hyperplane LSH family. Same-bucket vectors
    * are cosine-near with high probability when dimensions are
    * roughly independent.
    *
    * Always emits exactly `nBits` characters: a missing dimension
    * (embedding shorter than nBits) pads to '0' via rpad, matching
    * the oracle's out-of-range-index → NULL → '0' CASE — a bare
    * slice-then-transform would instead emit a SHORTER string for
    * short embeddings and silently diverge from the oracle. (The
    * lambda deliberately has no free variables: a captured outer
    * attribute inside a HOF lambda breaks attribute dedup under
    * self-joins.)
    */
  def signBucket(emb: Column, nBits: Int): Column =
    rpad(
      array_join(
        transform(slice(emb, 1, nBits), x => when(x >= 0, "1").otherwise("0")), ""),
      nBits, "0")

  /** Brute-force cosine top-k: for each query vector, the k nearest
    * corpus vectors (self excluded). Queries are broadcast; corpus
    * streams. Ties break on ascending corpus id (total order).
    */
  def cosineTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val q = queries.select(
      col("vec_id").as("query_id"),
      col("embedding").as("q_emb"),
      norm2(col("embedding")).as("q_n2"))
    val c = corpus.select(
      col("vec_id"),
      col("embedding").as("c_emb"),
      norm2(col("embedding")).as("c_n2"))
    val scored = c.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(
        col("query_id"), col("vec_id"),
        cosineFrom(dot(col("q_emb"), col("c_emb")), col("q_n2"), col("c_n2"))
          .as("cos_sim"))
    Ranking.topKPerGroup(
      scored, Seq("query_id"),
      Seq(col("cos_sim").desc, col("vec_id").asc), k)
      .withColumn("rk", col("rk").cast("long"))
  }

  /** IVF-style cell assignment: each vector goes to its single
    * highest-cosine centroid (ties → lowest centroid id). Centroids
    * are a k-bounded frame, always broadcast. A production IVF learns
    * centroids with k-means; any fixed centroid set (here: a
    * deterministic subset of the corpus) exercises the identical
    * plan — broadcast-assign, then co-partition by cell.
    */
  def assignToCentroid(vectors: DataFrame, centroids: DataFrame): DataFrame =
    assignToCentroids(vectors, centroids, 1)

  /** Generalization of [[assignToCentroid]]: each vector's `nprobe`
    * highest-cosine centroids (ties → lowest centroid id), up to one
    * row per (vector, probed cell). nprobe = 1 is exactly the storage
    * assignment; nprobe > 1 is the QUERY side of a multi-probe IVF
    * search. Same plan shape for any nprobe: broadcast centroids,
    * score, per-vector top-nprobe (WindowGroupLimit prunes map-side).
    */
  def assignToCentroids(vectors: DataFrame, centroids: DataFrame, nprobe: Int): DataFrame = {
    val cent = centroids.select(
      col("vec_id").as("cid"),
      col("embedding").as("cent_emb"),
      norm2(col("embedding")).as("cent_n2"))
    val scored = vectors.select(
      col("vec_id"), col("embedding"), norm2(col("embedding")).as("n2"))
      .crossJoin(broadcast(cent))
      .select(col("vec_id"), col("embedding"), col("n2"), col("cid"),
        cosineFrom(dot(col("embedding"), col("cent_emb")), col("n2"), col("cent_n2"))
          .as("cent_cos"))
    graft.ops.Ranking
      .topKPerGroup(scored, Seq("vec_id"), Seq(col("cent_cos").desc, col("cid").asc), nprobe)
      .select(col("vec_id"), col("embedding"), col("n2"), col("cid"), col("cent_cos"))
  }

  /** Lloyd's k-means over the embedding column — the learned-centroid
    * step [[assignToCentroid]]'s Scaladoc defers to, as a first-class
    * operator. Deterministic end to end: init is the k lowest-id
    * vectors; each per-dimension centroid mean runs through
    * DECIMAL(28,10) ([[graft.ops.Aggregates.exactMean]]) so the
    * update is shuffle-order-invariant; the mean then rounds to FLOAT
    * so every subsequent dot product is the same float→double widened
    * left fold on both engines. Cells that lose all members drop out
    * (k shrinks), exactly as the grouped update implies.
    *
    * Scale shape per iteration: one broadcast assign (centroids are
    * k-bounded — the corpus never shuffles for assignment) + one
    * aggregation shuffled on (cell, dim) whose output is k×dims rows.
    * The corpus is rescanned once per iteration; at 100 TB persist
    * the (embedding, n2) base first — with iters fixed and small the
    * rescan-vs-materialize trade belongs to the caller.
    */
  def kmeans(vectors: DataFrame, k: Int, iters: Int): DataFrame =
    assignToCentroid(vectors, kmeansCentroids(vectors, k, iters))
      .select(col("vec_id"), col("cid").as("cluster"), col("cent_cos"))

  /** The centroid frame [[kmeans]] learns, exposed so an IVF index can
    * probe LEARNED cells ([[ivfTopK]] accepts it directly): (vec_id =
    * cell id, embedding = float-rounded centroid). k-bounded — always
    * broadcastable.
    */
  def kmeansCentroids(vectors: DataFrame, k: Int, iters: Int): DataFrame = {
    var cents = vectors.filter(col("vec_id") < k)
      .select(col("vec_id"), col("embedding"))
    for (_ <- 1 to iters) {
      cents = assignToCentroid(vectors, cents)
        .select(col("cid"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy(col("cid"), col("pos"))
        .agg(graft.ops.Aggregates.exactMean(col("v").cast("double")).as("m"))
        .groupBy(col("cid"))
        .agg(transform(sort_array(collect_list(struct(col("pos"), col("m")))),
          x => x.getField("m").cast("float")).as("embedding"))
        .select(col("cid").as("vec_id"), col("embedding"))
    }
    cents
  }

  /** Product-quantization codes: split each embedding into `m`
    * contiguous `subDim`-wide subspaces, learn a k-centroid codebook
    * per subspace ([[kmeansCentroids]] on the sliced column), and
    * emit each vector's per-subspace nearest-centroid code — the
    * 64-float → m-byte compression an ANN index stores instead of raw
    * vectors. All the determinism guarantees of [[kmeans]] carry over
    * per subspace (slices are exact, the codebooks float-rounded).
    * Scale shape: per subspace one broadcast assign + one (cell, dim)
    * agg per iteration; the m code frames join back on vec_id —
    * co-partitioned after the first shuffle. m × k × subDim centroid
    * floats is the whole model: kilobytes, broadcast everywhere.
    */
  def pqCodes(vectors: DataFrame, m: Int, subDim: Int, k: Int, iters: Int): DataFrame =
    (0 until m).map { i =>
      val sub = vectors.select(col("vec_id"),
        slice(col("embedding"), i * subDim + 1, subDim).as("embedding"))
      assignToCentroid(sub, kmeansCentroids(sub, k, iters))
        .select(col("vec_id"), col("cid").as(s"code_$i"))
    }.reduce(_.join(_, Seq("vec_id")))

  /** PQ asymmetric-distance (ADC) top-k: the search half of product
    * quantization — corpus vectors exist only as m per-subspace codes
    * ([[pqCodes]]'s compression), queries stay full-precision, and
    * each (query, doc) inner product is the FIXED-ORDER sum of m
    * lookup-table entries dot(query_sub_i, codebook_i[code_i]).
    *
    * 100 TB shape: per subspace the codebook is k centroids
    * (kilobytes) and the query LUT is |queries|·k partial dots — both
    * broadcast. The corpus-sized frame flows ONCE through m broadcast
    * hash joins on its code columns (no shuffle after the codes are
    * built), so scoring reads 1 byte/dim-group instead of 4
    * bytes/dim and never touches the float embeddings again. Ranks
    * break ties on ascending corpus id.
    */
  def pqAdcTopK(queries: DataFrame, corpus: DataFrame, m: Int, subDim: Int,
      k: Int, iters: Int, topK: Int): DataFrame = {
    val parts = (0 until m).map { i =>
      val sub = corpus.select(col("vec_id"),
        slice(col("embedding"), i * subDim + 1, subDim).as("embedding"))
      val cents = kmeansCentroids(sub, k, iters)
      val codes = assignToCentroid(sub, cents)
        .select(col("vec_id"), col("cid").as(s"code_$i"))
      val lut = queries
        .select(col("vec_id").as("query_id"),
          slice(col("embedding"), i * subDim + 1, subDim).as("q_sub"))
        .crossJoin(broadcast(
          cents.select(col("vec_id").as(s"code_$i"), col("embedding").as("cent"))))
        .select(col("query_id"), col(s"code_$i"),
          dot(col("q_sub"), col("cent")).as(s"p_$i"))
      (codes, lut)
    }
    val allCodes = parts.map(_._1).reduce(_.join(_, Seq("vec_id")))
    val scored = parts.map(_._2).zipWithIndex.foldLeft(allCodes) {
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

  /** IVF-bucketed ANN top-k: queries probe only their own centroid's
    * cell. Same candidate-bounded join shape as [[bucketedTopK]] but
    * with data-adaptive cells instead of sign bits — recall follows
    * cell quality; at scale the cell key replaces a learned k-means
    * index's posting lists.
    */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, centroids: DataFrame, k: Int): DataFrame =
    ivfTopKProbe(queries, corpus, centroids, k, nprobe = 1)

  /** Multi-probe IVF top-k: each query probes its `nprobe` nearest
    * cells instead of one — the standard recall-vs-cost dial of a
    * production IVF index (probe more posting lists, recover more of
    * the exact top-k, scan proportionally more candidates). Corpus
    * vectors still live in exactly ONE cell, so no (query, candidate)
    * pair can arise twice and no dedup pass is needed; candidate work
    * scales linearly in nprobe, never all-pairs. The probe join stays
    * co-partitioned on the cell id — at scale the cell key is the
    * posting-list address and only probed cells' rows move.
    */
  def ivfTopKProbe(queries: DataFrame, corpus: DataFrame, centroids: DataFrame,
      k: Int, nprobe: Int): DataFrame = {
    val q = assignToCentroids(queries, centroids, nprobe).select(
      col("vec_id").as("query_id"), col("embedding").as("q_emb"),
      col("n2").as("q_n2"), col("cid"))
    val c = assignToCentroid(corpus, centroids)
    val scored = c.join(q, Seq("cid"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        cosineFrom(dot(col("q_emb"), col("embedding")), col("q_n2"), col("n2"))
          .as("cos_sim"))
    graft.ops.Ranking.topKPerGroup(
      scored, Seq("query_id"), Seq(col("cos_sim").desc, col("vec_id").asc), k)
      .withColumn("rk", col("rk").cast("long"))
  }

  /** Embedding-cosine near-duplicate pairs: vectors in the same
    * sign-bit bucket whose cosine exceeds `threshold`, emitted once
    * (vec_a < vec_b). The dedup-by-similarity building block for
    * embedding-level corpus cleaning: same bucket-join shape as
    * [[bucketedTopK]] — candidate-bounded, never all-pairs. No
    * broadcast is hinted (both sides are corpus-sized): Catalyst
    * broadcasts below the auto threshold and shuffles on the bucket
    * key above it, which is the 100 TB shape. The cosine threshold
    * sits in the join condition, so pairs below it never materialize.
    */
  def nearDupPairs(corpus: DataFrame, nBits: Int, threshold: Double): DataFrame = {
    def side(idAs: String, embAs: String, n2As: String) = corpus.select(
      col("vec_id").as(idAs),
      col("embedding").as(embAs),
      norm2(col("embedding")).as(n2As),
      signBucket(col("embedding"), nBits).as("bucket"))
    side("vec_a", "a_emb", "a_n2")
      .join(side("vec_b", "b_emb", "b_n2"), Seq("bucket"))
      .filter(col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        cosineFrom(dot(col("a_emb"), col("b_emb")), col("a_n2"), col("b_n2"))
          .as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
  }

  /** Semantic deduplication (SemDeDup, Abbas et al. 2023,
    * arXiv:2303.09540): k-means-cluster the embedding space, then
    * within each cluster drop every vector that has a semantic
    * duplicate (cosine >= `tau`) ranked before it. Rank follows the
    * paper's diversity-preserving choice — keep the example LEAST
    * similar to its cluster centroid (ties on vec_id) — so of each
    * duplicate group the most "atypical" member survives.
    *
    * Output: one row per vector `(vec_id, cluster, cent_cos, keep)`.
    * Downstream corpus cleaning anti-joins on `keep = false`.
    *
    * Scale shape: clustering is [[kmeans]] (k-bounded broadcast
    * assigns + one (cell, dim) agg per iteration); the duplicate
    * test is a self-join CO-PARTITIONED ON THE CLUSTER ID — never
    * all-pairs. Pair work is sum over clusters of |c|², which is the
    * knob k controls: at 100 TB one raises k so clusters stay small
    * (the paper runs k ≈ √n), and the join never materializes pairs
    * below tau because the threshold sits in the join condition. The
    * left-semi form means candidate pairs collapse to a boolean per
    * vector — no pair set is ever retained.
    */
  def semanticDedup(vectors: DataFrame, k: Int, iters: Int, tau: Double): DataFrame = {
    val assigned = assignToCentroid(vectors, kmeansCentroids(vectors, k, iters))
    def side(p: String) = assigned.select(
      col("vec_id").as(s"${p}_id"), col("embedding").as(s"${p}_emb"),
      col("n2").as(s"${p}_n2"), col("cid").as(s"${p}_cid"),
      col("cent_cos").as(s"${p}_cc"))
    // v is removed iff some u in the same cluster is cosine-near and
    // ranks before it: (cent_cos, vec_id) lexicographic, ascending.
    val removed = side("v")
      .join(side("u"),
        col("u_cid") === col("v_cid") &&
          (col("u_cc") < col("v_cc") ||
            (col("u_cc") === col("v_cc") && col("u_id") < col("v_id"))) &&
          cosineFrom(dot(col("u_emb"), col("v_emb")), col("u_n2"), col("v_n2")) >= tau,
        "left_semi")
      .select(col("v_id").as("vec_id"), lit(1).as("rm"))
    assigned
      .join(removed, Seq("vec_id"), "left_outer")
      .select(col("vec_id"), col("cid").as("cluster"), col("cent_cos"),
        col("rm").isNull.as("keep"))
  }

  /** Bucketed ANN top-k: both sides hash to sign-bit buckets, join
    * co-partitioned on the bucket key, score only within the bucket.
    * Recall < 1 by construction (that is the trade); plan shape is
    * the one that survives 100 TB: shuffle-on-bucket + per-bucket
    * top-k, no broadcast of anything that grows with the corpus.
    */
  def bucketedTopK(queries: DataFrame, corpus: DataFrame, nBits: Int, k: Int): DataFrame = {
    val q = queries.select(
      col("vec_id").as("query_id"),
      col("embedding").as("q_emb"),
      norm2(col("embedding")).as("q_n2"),
      signBucket(col("embedding"), nBits).as("bucket"))
    val c = corpus.select(
      col("vec_id"),
      col("embedding").as("c_emb"),
      norm2(col("embedding")).as("c_n2"),
      signBucket(col("embedding"), nBits).as("bucket"))
    val scored = c.join(q, Seq("bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(
        col("query_id"), col("vec_id"),
        cosineFrom(dot(col("q_emb"), col("c_emb")), col("q_n2"), col("c_n2"))
          .as("cos_sim"))
    Ranking.topKPerGroup(
      scored, Seq("query_id"),
      Seq(col("cos_sim").desc, col("vec_id").asc), k)
      .withColumn("rk", col("rk").cast("long"))
  }

  /** Scalar (int8) quantization grid: per-dimension corpus min/max as
    * two 1-row arrays (mns, mxs), ordered by dimension. One
    * posexplode + partial/final min-max aggregate (map-side combine
    * reduces each partition to |dims| rows before the shuffle), then
    * a collect_list bounded by |dims| — the grid is model-sized, not
    * data-sized, and is always broadcast to the quantize pass.
    */
  def sq8Grid(vectors: DataFrame): DataFrame =
    vectors
      .select(posexplode(col("embedding")).as(Seq("dim", "v")))
      .groupBy(col("dim"))
      .agg(min(col("v")).as("mn"), max(col("v")).as("mx"))
      .agg(sort_array(collect_list(struct(col("dim"), col("mn"), col("mx")))).as("g"))
      .select(
        transform(col("g"), x => x.getField("mn")).as("mns"),
        transform(col("g"), x => x.getField("mx")).as("mxs"))

  /** Quantize embeddings to int8 codes on a [[sq8Grid]]:
    * q_i = max(min(floor(((x_i − mn_i) / (mx_i − mn_i)) · 256), 255), 0),
    * 0 where the dimension is constant. The two-sided clamp keeps the
    * 1-byte-per-dim contract even for out-of-distribution queries
    * quantized against a corpus-built grid (the train-offline /
    * score-online shape): values outside [mn, mx] saturate instead of
    * producing negative codes (r10 ADVICE). Every step is an exact or
    * correctly-rounded IEEE double op in a FIXED order (subtract,
    * divide, scale by a power of two, floor), so codes are
    * bit-identical across engines — the portability property that
    * lets an integer-only ANN index verify against the oracle.
    * Adds `codes` (array<int>) and `qn2` (exact BIGINT squared norm).
    */
  def sq8Codes(vectors: DataFrame, grid: DataFrame): DataFrame = {
    val codes = transform(sequence(lit(1), size(col("embedding"))), i => {
      val x = element_at(col("embedding"), i).cast("double")
      val mn = element_at(col("mns"), i).cast("double")
      val mx = element_at(col("mxs"), i).cast("double")
      when(mx === mn, lit(0L))
        .otherwise(greatest(
          least(floor((x - mn) / (mx - mn) * lit(256.0)), lit(255L)),
          lit(0L)))
        .cast("int")
    })
    vectors
      .crossJoin(broadcast(grid))
      .withColumn("codes", codes)
      .withColumn("qn2",
        aggregate(col("codes"), lit(0L),
          (acc, v) => acc + v.cast("long") * v.cast("long")))
      .drop("mns", "mxs")
  }

  /** SQ8 approximate top-k: rank corpus codes against query codes by
    * quantized cosine — an exact BIGINT code dot product over the
    * compressed representation, normalized by the exact integer
    * norms. The 100 TB shape of in-memory ANN: the index holds 1
    * byte/dim instead of 4 (reads 4× less, sequential integer
    * multiply-adds), the float embeddings never reach the scoring
    * join. Queries broadcast; ties break on ascending corpus id.
    */
  def sq8TopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val grid = sq8Grid(corpus)
    val c = sq8Codes(corpus, grid)
      .select(col("vec_id"), col("codes").as("c_codes"), col("qn2").as("c_n2"))
    val q = sq8Codes(queries, grid)
      .select(col("vec_id").as("query_id"), col("codes").as("q_codes"), col("qn2").as("q_n2"))
    val qdot = aggregate(
      zip_with(col("q_codes"), col("c_codes"), (x, y) => x.cast("long") * y.cast("long")),
      lit(0L), (acc, v) => acc + v)
    val scored = c.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        (qdot.cast("double") /
          (sqrt(col("q_n2").cast("double")) * sqrt(col("c_n2").cast("double"))))
          .as("q_cos"))
    Ranking.topKPerGroup(
      scored, Seq("query_id"),
      Seq(col("q_cos").desc, col("vec_id").asc), k)
      .withColumn("rk", col("rk").cast("long"))
  }

  /** k-center / farthest-point-first selection (Gonzalez 1985): the
    * greedy 2-approximation to the k-center coreset — pick the lowest
    * id as seed, then k−1 times pick the point FARTHEST (cosine
    * distance, ties → lowest id) from everything selected so far.
    * The diversity-exemplar primitive (eval-set seeding, kmeans++-style
    * initialization, coverage auditing): the i-th selection's distance
    * is the exact coverage radius of the first i−1 centers.
    *
    * Scale shape: the algorithm is inherently k-sequential; what must
    * NOT grow is per-round work. Each round makes ONE corpus pass
    * against a BROADCAST 1-row frame (the newest center), folds it
    * into a running per-point min-distance (localCheckpoint'd so
    * round i's plan is a flat scan, not i chained joins — the CC loop
    * discipline), and selects via orderBy+limit(1), which fuses to
    * TakeOrderedAndProject. k passes, each fully parallel, nothing
    * driver-side except the k-row center frame.
    *
    * Output: (sel_order 1..k, vec_id, dist_at_selection) — 0.0 for
    * the seed.
    */
  def kcenterSelect(vectors: DataFrame, k: Int): DataFrame =
    kcenterSelectImpl(vectors, k,
      literalFold = k <= KcenterLiteralFoldMaxK)

  /** Above this k, the literal-fold plan (round i embeds i−1 center
    * vectors → O(k²·dim) total expression bytes) costs more to
    * analyze than it saves in jobs; the incremental path carries the
    * running min-distance in a checkpointed COLUMN instead, so every
    * round's expression is O(dim) (r19 ADVICE #2 — which also noted
    * the plan-size ceiling the literal path imposes).
    */
  private val KcenterLiteralFoldMaxK = 24

  private[graft] def kcenterSelectImpl(
      vectors: DataFrame, k: Int, literalFold: Boolean): DataFrame = {
    require(k >= 1)
    val spark = vectors.sparkSession
    val base = graft.ops.Sink.cachedEager(vectors.select(
      col("vec_id"), col("embedding"), norm2(col("embedding")).as("n2")))
    // Embedding element type is part of the operator's contract:
    // FloatType or DoubleType arrays (r19 ADVICE #2 — the old path
    // hard-coded getSeq[Float], so a DoubleType caller got a runtime
    // ClassCastException instead of this loud check). The literal is
    // built with the COLUMN's own element type, so the dot product's
    // fold is the identical IEEE expression either way.
    val elemT = base.schema("embedding").dataType match {
      case org.apache.spark.sql.types.ArrayType(et, _) => et
      case t => throw new IllegalArgumentException(
        s"kcenterSelect: embedding must be an array column, got $t")
    }
    def embOf(r: org.apache.spark.sql.Row): Column = elemT match {
      case org.apache.spark.sql.types.FloatType => typedlit(r.getSeq[Float](1))
      case org.apache.spark.sql.types.DoubleType => typedlit(r.getSeq[Double](1))
      case t => throw new IllegalArgumentException(
        s"kcenterSelect: embedding element type $t unsupported (float/double)")
    }
    def distTo(center: Column, n2c: Double): Column =
      lit(1.0) - cosineFrom(dot(col("embedding"), center), col("n2"), lit(n2c))
    try {
      // The selected centers ARE the model — k rows of (id, vector,
      // n2, radius), the Unigram.scala bounded-collect class — so the
      // loop keeps them DRIVER-side as literals. Two plan shapes,
      // same IEEE arithmetic (least is left-assoc in selection order
      // in both — bit-identical by construction, law-tested):
      //  - literalFold (small k): round i is ONE cached-corpus scan
      //    computing the min-distance to all i−1 centers as a single
      //    least-fold expression fused into TakeOrderedAndProject —
      //    (k−1) scans, no persisted loop state;
      //  - incremental (large k): the running min-distance rides a
      //    localCheckpointed md COLUMN, folded with the ONE new
      //    center per round — 2(k−1) jobs, but every round's
      //    expression is O(dim), so plan analysis stays flat however
      //    large k grows.
      var centers = Vector.empty[(Any, Column, Double, Double)]
      var mdf: DataFrame = null
      val seed = base.orderBy(col("vec_id").asc).limit(1).collect()
      if (seed.nonEmpty) {
        centers :+= ((seed(0).get(0), embOf(seed(0)), seed(0).getDouble(2), 0.0))
        var exhausted = false
        for (_ <- 2 to k if !exhausted) {
          val scored =
            if (literalFold) {
              val md = centers.map { case (_, emb, n2c, _) => distTo(emb, n2c) }
                .reduceLeft(least(_, _))
              base.select(col("vec_id"), col("embedding"), col("n2"), md.as("md"))
            } else {
              val (_, emb, n2c, _) = centers.last
              mdf = (if (mdf == null)
                base.select(col("vec_id"), col("embedding"), col("n2"),
                  distTo(emb, n2c).as("md"))
              else
                mdf.withColumn("md", least(col("md"), distTo(emb, n2c))))
                .localCheckpoint(true)
              mdf
            }
          val next = scored
            .filter(!col("vec_id").isInCollection(centers.map(_._1)))
            .orderBy(col("md").desc, col("vec_id").asc).limit(1)
            .collect()
          if (next.isEmpty) exhausted = true
          else centers :+= ((next(0).get(0), embOf(next(0)),
            next(0).getDouble(2), next(0).getDouble(3)))
        }
      }
      val idType = base.schema("vec_id").dataType
      val out = centers.zipWithIndex.map { case ((id, _, _, d), ix) =>
        org.apache.spark.sql.Row((ix + 1).toLong, id, d)
      }
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("sel_order",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("vec_id", idType),
        org.apache.spark.sql.types.StructField("dist_at_selection",
          org.apache.spark.sql.types.DoubleType, nullable = false)))
      spark.createDataFrame(spark.sparkContext.parallelize(out, 1), schema)
    } finally base.unpersist(blocking = false)
  }

  /** MUTUAL k-NN graph over the whole corpus: the undirected edge
    * (a, b) exists iff b is in a's bucketed top-k AND a is in b's —
    * the reciprocal-neighbor graph that semantic clustering and
    * diversity pruning build on (mutual edges are far more precise
    * than one-directional ones: a hub vector appears in many top-k
    * lists but reciprocates few). Output `(id_a, id_b, cos_sim)`
    * with id_a < id_b.
    *
    * Scale shape: the directed k-NN lists come from [[bucketedTopK]]
    * with the corpus on BOTH sides — one shuffle on the LSH bucket
    * key, per-bucket scoring, per-vector top-k, never all-pairs. The
    * directed list (≤ k·n rows) is persisted eagerly and consumed by
    * both sides of the reciprocity join, so scoring runs once; the
    * reciprocity test itself is a canonical-key `groupBy` counting
    * directions — cosine is bit-exact symmetric (same per-index fold
    * both ways), so `max(cos)` of a 2-row group is THE edge score,
    * and no join back to the embeddings is needed.
    */
  def mutualKnnGraph(vectors: DataFrame, nBits: Int, k: Int): DataFrame = {
    val knn = graft.ops.Sink.cachedEager(
      bucketedTopK(vectors, vectors, nBits, k)
        .select(col("query_id"), col("vec_id"), col("cos_sim")))
    mutualEdgesFromKnn(knn)
  }

  /** Reciprocity reduction shared by [[mutualKnnGraph]] and the saved
    * graph lifecycle: canonical-key groupBy counting directions over
    * a DIRECTED top-k list.
    */
  private def mutualEdgesFromKnn(knn: DataFrame): DataFrame =
    knn
      .select(
        least(col("query_id"), col("vec_id")).as("id_a"),
        greatest(col("query_id"), col("vec_id")).as("id_b"),
        col("cos_sim"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_dir"), max(col("cos_sim")).as("cos_sim"))
      .filter(col("n_dir") === 2)
      .select(col("id_a"), col("id_b"), col("cos_sim"))

  // ---- Saved mutual-kNN graph lifecycle (r12 verdict #3) -------------------
  // At 100 TB the kNN graph is exactly the expensive standing
  // structure you build ONCE and probe many times — the argument that
  // motivated AnnIndex and MinHash.writeBands. Layout under indexDir:
  //   vecs/  (vec_id, embedding, n2, bucket)  partitioned by bucket
  //   knn/   directed top-k lists (query_id, vec_id, cos_sim, rk)
  //   edges/ mutual edge list (id_a, id_b, cos_sim)
  // Probes scan edges/ alone — zero embedding-side recompute. The
  // append path is EXACT (append ≡ rebuild, the law ExtSpec asserts)
  // because per-query top-k lists are mergeable: a base vector's
  // top-k over base ∪ delta equals top-k(saved top-k ∪ its scores
  // against delta), and only base vectors sharing an LSH bucket with
  // the delta can gain a neighbor — the bucket-partitioned vecs/
  // bounds that rescoring to the touched partitions, never a base ×
  // base rescan.

  /** Prepared form every lifecycle step shares: id, embedding, and
    * the PERSISTED n2/bucket (probes and appends then reuse the exact
    * doubles the graph was built from — the AnnIndex discipline).
    */
  private def prepareVecs(vectors: DataFrame, nBits: Int): DataFrame =
    vectors.select(col("vec_id"), col("embedding"),
      norm2(col("embedding")).as("n2"),
      signBucket(col("embedding"), nBits).as("bucket"))

  /** Directed per-query top-k from prepared frames — the same score
    * expression, bucket join, and (cos desc, id asc) total order as
    * [[bucketedTopK]], reading n2/bucket from the artifact instead of
    * recomputing them.
    */
  /** Raw bucket-joined scores from prepared frames (no ranking). */
  private def scoredPairs(queries: DataFrame, corpus: DataFrame): DataFrame = {
    val q = queries.select(col("vec_id").as("query_id"),
      col("embedding").as("q_emb"), col("n2").as("q_n2"), col("bucket"))
    val c = corpus.select(col("vec_id"),
      col("embedding").as("c_emb"), col("n2").as("c_n2"), col("bucket"))
    c.join(q, Seq("bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        cosineFrom(dot(col("q_emb"), col("c_emb")), col("q_n2"), col("c_n2"))
          .as("cos_sim"))
  }

  private def rankTopK(scored: DataFrame, k: Int): DataFrame =
    Ranking.topKPerGroup(
      scored, Seq("query_id"),
      Seq(col("cos_sim").desc, col("vec_id").asc), k)
      .withColumn("rk", col("rk").cast("long"))

  private def directedTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame =
    rankTopK(scoredPairs(queries, corpus), k)

  /** Build and persist the mutual-kNN graph artifact. */
  def writeKnnGraph(vectors: DataFrame, nBits: Int, k: Int, indexDir: String): Unit = {
    val spark = vectors.sparkSession
    prepareVecs(vectors, nBits)
      .write.mode("overwrite").partitionBy("bucket").parquet(s"$indexDir/vecs")
    val vecs = Ingest.parquet(spark, s"$indexDir/vecs")
    directedTopK(vecs, vecs, k)
      .write.mode("overwrite").parquet(s"$indexDir/knn")
    mutualEdgesFromKnn(Ingest.parquet(spark, s"$indexDir/knn"))
      .write.mode("overwrite").parquet(s"$indexDir/edges")
  }

  /** The standing edge table — a probe is a bare parquet scan. */
  def probeKnnGraph(spark: org.apache.spark.sql.SparkSession, indexDir: String): DataFrame =
    Ingest.parquet(spark, s"$indexDir/edges")

  /** The saved directed lists (for diagnostics and the append law). */
  def probeKnnLists(spark: org.apache.spark.sql.SparkSession, indexDir: String): DataFrame =
    Ingest.parquet(spark, s"$indexDir/knn")

  /** Incrementally ingest `delta` (ids disjoint from the base) into a
    * saved graph — EXACT, by top-k mergeability:
    *   1. delta lists: delta queries score against base ∪ delta
    *      (bucket-joined — only same-bucket base partitions are read);
    *   2. base lists: saved top-k rows union the base-vs-delta scores,
    *      re-ranked — queries sharing no bucket with the delta are
    *      re-ranked onto their own unchanged rows;
    *   3. knn/ and edges/ swap in atomically; delta rows append to
    *      vecs/ touched partitions only.
    * Scoring cost is O(|delta| × bucket occupancy) both ways — the
    * standing corpus is never re-scored against itself.
    */
  def appendKnnGraph(delta: DataFrame, nBits: Int, k: Int, indexDir: String): Unit = {
    val spark = delta.sparkSession
    prepareVecs(delta, nBits)
      .write.mode("overwrite").partitionBy("bucket").parquet(s"$indexDir/vecs_delta")
    val dPrep = Ingest.parquet(spark, s"$indexDir/vecs_delta")
    val base = Ingest.parquet(spark, s"$indexDir/vecs")
    val deltaLists = directedTopK(dPrep, base.unionByName(dPrep), k)
    val baseVsDelta = scoredPairs(base, dPrep)
    val savedLists = Ingest.parquet(spark, s"$indexDir/knn")
      .select(col("query_id"), col("vec_id"), col("cos_sim"))
    val mergedBase = rankTopK(savedLists.unionByName(baseVsDelta), k)
    val knnTmp = s"$indexDir/knn_appending"
    mergedBase.unionByName(deltaLists)
      .write.mode("overwrite").parquet(knnTmp)
    AnnIndex.swapIn(indexDir, "knn", knnTmp)
    val edgesTmp = s"$indexDir/edges_appending"
    mutualEdgesFromKnn(Ingest.parquet(spark, s"$indexDir/knn"))
      .write.mode("overwrite").parquet(edgesTmp)
    AnnIndex.swapIn(indexDir, "edges", edgesTmp)
    Ingest.parquet(spark, s"$indexDir/vecs_delta")
      .write.mode("append").partitionBy("bucket").parquet(s"$indexDir/vecs")
    graft.ops.Sink.clearLocalPath(s"$indexDir/vecs_delta")
  }

  /** Graph-ANN probe (r15 VERDICT Next #3): fixed-round BEAM SEARCH
    * over the saved mutual-kNN edge table — the batch-expressible
    * skeleton of the HNSW/NSG search loop, run for a whole query set
    * at once instead of one query at a time. Queries are corpus
    * members, so each walk enters the graph AT ITS OWN NODE (the
    * ideal entry point — no bucket probe, no global entry heuristic)
    * and expands `rounds` times:
    *
    *   frontier₀ = {query}          (seen = {query}: self never scored)
    *   round r:  neighbors(frontierᵣ₋₁) via the edge table,
    *             anti-joined against everything seen (per query),
    *             scored by exact cosine against the PROBED vectors,
    *             top-`beam` per query (cos desc, id asc — the e3 tie
    *             discipline) become frontierᵣ and join the pool
    *   answer:   top-k of the pooled candidates per query
    *
    * Wholly deterministic — every round is a join + window cut under
    * a total order — so the DuckDB oracle replays it round by round
    * (the e2_knn_communities CTE-unrolling recipe) and the driver
    * gate hashes it bit-exactly.
    *
    * Scale shape: each round touches O(|frontier| × avg-degree)
    * edge rows (frontier is ≤ beam per query) and scores only the
    * FRESH candidates — the corpus is never broadcast and never
    * rescanned as a whole; the per-round WindowGroupLimit cuts to
    * `beam` rows per query map-side before the exchange. Loop state
    * follows the bfsHops release discipline: per-round layers are
    * cached (each feeds the next round AND the final pool), the
    * result is materialized once, every layer unpersisted — one
    * cached frame leaves. Empty frontiers short-circuit dead rounds.
    */
  def graphBeamSearch(
      queries: DataFrame,
      indexDir: String,
      rounds: Int,
      beam: Int,
      k: Int): DataFrame = {
    val (adj, vecs, q) = beamSetup(queries, indexDir)
    val self = q.select(col("query_id"), col("query_id").as("vec_id"))
    beamLoop(adj, exactScorer(vecs, q), seenBase = self, initFrontier = self,
      initLayers = Vector.empty, rounds, beam, finish = rankTopK(_, k))
  }

  /** Graph-ANN probe for EXTERNAL queries — vectors that are NOT
    * graph nodes, so "enter at your own node" is unavailable and the
    * walk needs seeded ENTRY POINTS ([[graphBeamSearch]]'s scaladoc
    * notes corpus-membership as the ideal case; this is the other
    * case, HNSW's upper-layer descent batch-expressed). `entries` is
    * a (query_id, vec_id) frame naming each query's entry nodes —
    * the caller's policy (a landmark table scored exactly, IVF
    * centroids, any deterministic pick); entry nodes are real
    * candidates, so round 0 SCORES them (top-beam per query becomes
    * the first layer AND the first frontier) and the walk proceeds
    * exactly as the member variant: fresh-only scoring, per-round
    * beam cut under the (cos desc, id) total order, top-k of the
    * pooled layers. Same scale shape — entries are ≤ a handful per
    * query, the corpus is never broadcast and never bulk-scanned.
    */
  def graphBeamSearchExternal(
      queries: DataFrame,
      indexDir: String,
      entries: DataFrame,
      rounds: Int,
      beam: Int,
      k: Int): DataFrame = {
    val (adj, vecs, q) = beamSetup(queries, indexDir)
    externalEntryWalk(adj, vecs, q, entries, rounds, beam, k)
  }

  /** The entry-seeded walk shared by the saved-artifact probe and the
    * in-query composition: score the entries as layer 0, then the
    * member-variant rounds.
    */
  private def externalEntryWalk(
      adj: DataFrame, vecs: DataFrame, q: DataFrame, entries: DataFrame,
      rounds: Int, beam: Int, k: Int): DataFrame = {
    val ent = entries.select(col("query_id"), col("vec_id"))
    val scored0 = exactScorer(vecs, q)(ent)
    val (layer0, n0) = graft.ops.Sink.cachedEagerCount(
      Ranking.topKPerGroup(
        scored0, Seq("query_id"),
        Seq(col("cos_sim").desc, col("vec_id").asc), beam).drop("rk"))
    if (n0 == 0) {
      layer0.unpersist()
      return rankTopK(ent.filter(lit(false)).withColumn("cos_sim", lit(0.0d)), k)
    }
    // every named entry counts as VISITED (even one the beam cut) —
    // re-scoring it later would double-pool the same candidate
    beamLoop(adj, exactScorer(vecs, q), seenBase = ent,
      initFrontier = layer0.select(col("query_id"), col("vec_id")),
      initLayers = Vector(layer0), rounds, beam, finish = rankTopK(_, k))
  }

  /** The full external-probe COMPOSITION — graph build → k-center
    * landmark training → entry scoring → walk — as ONE in-query
    * statement over cached frames, no artifact round-trips (r19
    * VERDICT Next #4). This exists for the bounded composition GATE:
    * the claim it pins is that the composed dataflow reproduces the
    * oracle's replay end to end, and that claim is independent of
    * whether intermediate tables pass through parquet — every write +
    * read-back the saved lifecycle performs is separately pinned by
    * its own laws and by the e3_graph_search_ext_saved twin (floats
    * round-trip parquet bit-exactly, so the two compositions are
    * bit-identical by construction). What dropping the round-trips
    * buys is latency shape, not just IO: the saved path's six
    * sequential write/read barriers serialize on the driver; here the
    * directed lists, edges, and prepared vectors are eagerly cached
    * once and every downstream consumer (k-center rounds, entry
    * scoring, walk rounds) reads hot blocks — and the two build
    * chains that share nothing but `prepared` (directed lists →
    * mutual edges; k-center landmarks → entry scoring) run
    * CONCURRENTLY on the bounded pool, so the landmark training's
    * k−1 sequential driver rounds hide entirely behind the one
    * corpus-scale kNN self-join instead of adding to it. Production
    * serving still uses the saved path — standing artifacts, built
    * once, probed forever.
    */
  def graphSearchExternalInQuery(
      corpus: DataFrame, queries: DataFrame, nBits: Int, knnK: Int,
      lmK: Int, entryK: Int, rounds: Int, beam: Int, k: Int): DataFrame = {
    val prepared = graft.ops.Sink.cachedEager(prepareVecs(corpus, nBits))
    // two independent chains over the materialized `prepared` —
    // nothing shared downstream, so concurrent submission is pure
    // latency overlap with identical results
    val built = graft.ops.Jobs.runConcurrently[AnyRef](
      prepared.sparkSession, Seq(
        () => {
          val knn = graft.ops.Sink.cachedEager(
            directedTopK(prepared, prepared, knnK)
              .select(col("query_id"), col("vec_id"), col("cos_sim")))
          val edges = graft.ops.Sink.cachedEager(mutualEdgesFromKnn(knn))
          knn.unpersist(blocking = false)
          edges
        },
        () => {
          // landmark policy: the same k-center picks
          // writeGraphLandmarks stores (kcenterSelect re-derives n2
          // from the identical doubles, so picks match the artifact
          // path bit for bit)
          val lm = kcenterSelect(prepared, lmK)
            .join(prepared.select(col("vec_id"), col("embedding")), Seq("vec_id"))
            .select(col("vec_id"), col("embedding"))
          graft.ops.Sink.cachedEager(cosineTopK(queries, lm, entryK)
            .select(col("query_id"), col("vec_id")))
        }))
    val edges = built(0).asInstanceOf[DataFrame]
    val entries = built(1).asInstanceOf[DataFrame]
    val adj = edges.select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionByName(edges.select(col("id_b").as("src"), col("id_a").as("dst")))
    val vecs = prepared.select(
      col("vec_id"), col("embedding").as("c_emb"), col("n2").as("c_n2"))
    val q = broadcast(queries.select(col("vec_id").as("query_id"),
      col("embedding").as("q_emb"), norm2(col("embedding")).as("q_n2")))
    val out = externalEntryWalk(adj, vecs, q, entries, rounds, beam, k)
    // out is a flat eager checkpoint (beamLoop) — the build-side
    // caches release without recompute or re-planning risk
    prepared.unpersist(blocking = false)
    edges.unpersist(blocking = false)
    entries.unpersist(blocking = false)
    out
  }

  /** Persist a trained ENTRY-POINT table into a saved kNN-graph index
    * (r16 VERDICT Next #6 — the turnkey leg [[graphBeamSearchExternal]]
    * was missing): k-center / farthest-point-first exemplars
    * ([[kcenterSelect]]) over the graph's own vecs/ artifact, stored
    * as `landmarks/` beside knn/ and edges/. k-center is the right
    * entry policy for a beam walk — its picks are a 2-approximate
    * coverage net, so every query is within one coverage radius of
    * some landmark, the batch analogue of HNSW's sparse upper layer.
    * Landmarks carry their embedding and the SAME persisted n2
    * discipline as vecs/ (norm2 re-derived from the identical stored
    * doubles), so probe-time scoring never recomputes corpus state.
    * k-bounded rows: the artifact broadcasts at probe time.
    */
  def writeGraphLandmarks(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, k: Int): Unit = {
    val vecs = Ingest.parquet(spark, s"$indexDir/vecs")
    kcenterSelect(vecs, k)
      .join(vecs.select(col("vec_id"), col("embedding"), col("n2")), Seq("vec_id"))
      .select(col("sel_order"), col("vec_id"), col("embedding"), col("n2"))
      .write.mode("overwrite").parquet(s"$indexDir/landmarks")
  }

  /** The stored landmark table — k rows, broadcastable. */
  def probeGraphLandmarks(spark: org.apache.spark.sql.SparkSession,
      indexDir: String): DataFrame =
    Ingest.parquet(spark, s"$indexDir/landmarks")

  /** TURNKEY external-query graph probe: entries come from the
    * index's own stored landmarks (top-`entryK` by exact cosine
    * against the k-row broadcast table — the HNSW upper-layer
    * descent, batch-expressed), then the walk is exactly
    * [[graphBeamSearchExternal]]. The caller hands in nothing but
    * query vectors; nothing is learned at probe time.
    */
  def graphBeamSearchFromLandmarks(
      queries: DataFrame,
      indexDir: String,
      entryK: Int,
      rounds: Int,
      beam: Int,
      k: Int): DataFrame = {
    val lm = probeGraphLandmarks(queries.sparkSession, indexDir)
    val entries = cosineTopK(queries, lm, entryK)
      .select(col("query_id"), col("vec_id"))
    graphBeamSearchExternal(queries, indexDir, entries, rounds, beam, k)
  }

  /** ADC-scored beam search over the saved kNN graph — the
    * MEMORY-BOUND regime of graph-ANN at 100 TB: full vectors do not
    * fit beside the walk, so every candidate in the loop is scored
    * from its PQ CODES against the query's per-subspace lookup tables
    * (bytes per candidate, the [[pqAdcTopK]] asymmetric-distance
    * discipline: fixed left-assoc Σ p_i, so both engines bit-agree),
    * and only the FINAL pooled candidates — rounds × beam per query —
    * touch real vectors for an exact-cosine re-rank. Same walk, same
    * seen-set, same (score desc, id asc) total order (ADC's coarse
    * ties break on id deterministically); the codes table is the only
    * corpus-sized frame the loop reads, and it is code-width, not
    * vector-width. Queries are corpus members (own-node entry).
    */
  def graphBeamSearchAdc(
      queries: DataFrame,
      indexDir: String,
      m: Int,
      subDim: Int,
      pqK: Int,
      iters: Int,
      rounds: Int,
      beam: Int,
      k: Int,
      trainFilter: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    val spark = queries.sparkSession
    val (adj, vecs, q) = beamSetup(queries, indexDir)
    val corpusEmb = Ingest.parquet(spark, s"$indexDir/vecs")
      .select(col("vec_id"), col("embedding"))
    // Codebooks may TRAIN on a deterministic corpus slice (the
    // composition-gate discipline: training cost is index-build cost,
    // not probe cost, so a gate that trains in-query bounds it on a
    // slice — r18 VERDICT Next #1); code ASSIGNMENT always covers the
    // full corpus, since every walk candidate needs a code row.
    val trainEmb = trainFilter.map(corpusEmb.filter).getOrElse(corpusEmb)
    // The m subspace builds are INDEPENDENT small jobs (a k-means
    // chain each); submitted from one thread they serialize m
    // trainings of fixed per-job overhead, so they run concurrently
    // (Spark's scheduler interleaves jobs from separate threads —
    // the standard multi-tenant submission path, nothing shared but
    // the immutable parent frames). Dedicated bounded pool + job
    // group, NOT the global fork-join EC (r19 ADVICE #3): see
    // [[graft.ops.Jobs.runConcurrently]].
    val parts = graft.ops.Jobs.runConcurrently(spark, (0 until m).toList.map { i => () => {
      val sub = corpusEmb.select(col("vec_id"),
        slice(col("embedding"), i * subDim + 1, subDim).as("embedding"))
      // the k-row codebook feeds BOTH the corpus code assignment and
      // the query LUT — eagerly materialized once, or each consumer's
      // job re-runs the whole k-means chain (2m corpus-scale
      // trainings instead of m)
      val cents = kmeansCentroids(trainEmb.select(col("vec_id"),
        slice(col("embedding"), i * subDim + 1, subDim).as("embedding")),
        pqK, iters).localCheckpoint(true)
      val codes = assignToCentroid(sub, cents)
        .select(col("vec_id"), col("cid").as(s"code_$i"))
      // the LUT is the ONLY place the walk's rounds re-enter this
      // subspace's lineage. An eager localCheckpoint (the
      // e1_suffix_spans loop discipline) both materializes the
      // |queries| × pqK rows once AND truncates the lineage, so each
      // round's plan carries a leaf — without it the driver
      // re-analyzes the full PQ lineage on every action and analysis
      // time dwarfs the actual work
      val lut = queries
        .select(col("vec_id").as("query_id"),
          slice(col("embedding"), i * subDim + 1, subDim).as("q_sub"))
        .crossJoin(broadcast(
          cents.select(col("vec_id").as(s"code_$i"), col("embedding").as("cent"))))
        .select(col("query_id"), col(s"code_$i"),
          dot(col("q_sub"), col("cent")).as(s"p_$i"))
        .localCheckpoint(true)
      (codes, lut)
    }})
    // one codes row per corpus vector (m small ints) — cached: every
    // round's scoring joins it, and re-deriving means re-running the
    // per-subspace assignment m times per round
    val codes = parts.map(_._1).reduce(_.join(_, Seq("vec_id"))).localCheckpoint(true)
    val adc = (0 until m).map(i => col(s"p_$i")).reduce(_ + _)
    def adcScorer(pairs: DataFrame): DataFrame =
      parts.map(_._2).zipWithIndex.foldLeft(
        broadcast(pairs).join(codes, Seq("vec_id"))) {
        case (acc, (lut, i)) => acc.join(broadcast(lut), Seq("query_id", s"code_$i"))
      }.select(col("query_id"), col("vec_id"), adc.as("cos_sim"))
    // finish: the pooled candidates (adc-scored) re-rank by EXACT
    // cosine — the only place the walk touches full vectors
    def rerank(pool: DataFrame): DataFrame =
      rankTopK(exactScorer(vecs, q)(pool.select(col("query_id"), col("vec_id"))), k)
    val self = q.select(col("query_id"), col("query_id").as("vec_id"))
    beamLoop(adj, adcScorer, seenBase = self, initFrontier = self,
      initLayers = Vector.empty, rounds, beam, finish = rerank)
  }

  /** [[graphBeamSearchAdc]]'s deployment form: probe a SAVED PQ index
    * ([[AnnIndex.writePq]]'s codebooks/ + codes/) beside the saved
    * graph — no codebook learning, no corpus encoding, no float
    * corpus reads in the walk. The LUTs build from the kilobyte
    * codebook table per query set and the codes table is a bare
    * parquet leaf, so every round's plan is naturally tiny (the
    * in-query-build variant needs lineage truncation to get the same
    * property). Results are bit-identical to the build-in-query walk
    * when the artifacts come from the same corpus and constants —
    * the e3_pq_saved equality discipline, so the gate reuses the
    * composed oracle unchanged.
    */
  def graphBeamSearchAdcSaved(
      queries: DataFrame,
      graphDir: String,
      pqDir: String,
      m: Int,
      subDim: Int,
      rounds: Int,
      beam: Int,
      k: Int): DataFrame = {
    val spark = queries.sparkSession
    val (adj, vecs, q) = beamSetup(queries, graphDir)
    val books = Ingest.parquet(spark, s"$pqDir/codebooks")
    val luts = (0 until m).map { i =>
      queries
        .select(col("vec_id").as("query_id"),
          slice(col("embedding"), i * subDim + 1, subDim).as("q_sub"))
        .crossJoin(broadcast(
          books.filter(col("sub") === i)
            .select(col("cid").as(s"code_$i"), col("cent"))))
        .select(col("query_id"), col(s"code_$i"),
          dot(col("q_sub"), col("cent")).as(s"p_$i"))
    }
    val codes = Ingest.parquet(spark, s"$pqDir/codes")
    val adc = (0 until m).map(i => col(s"p_$i")).reduce(_ + _)
    def adcScorer(pairs: DataFrame): DataFrame =
      luts.zipWithIndex.foldLeft(
        broadcast(pairs).join(codes, Seq("vec_id"))) {
        case (acc, (lut, i)) => acc.join(broadcast(lut), Seq("query_id", s"code_$i"))
      }.select(col("query_id"), col("vec_id"), adc.as("cos_sim"))
    def rerank(pool: DataFrame): DataFrame =
      rankTopK(exactScorer(vecs, q)(pool.select(col("query_id"), col("vec_id"))), k)
    val self = q.select(col("query_id"), col("query_id").as("vec_id"))
    beamLoop(adj, adcScorer, seenBase = self, initFrontier = self,
      initLayers = Vector.empty, rounds, beam, finish = rerank)
  }

  private def beamSetup(
      queries: DataFrame, indexDir: String): (DataFrame, DataFrame, DataFrame) = {
    val spark = queries.sparkSession
    val edges = Ingest.parquet(spark, s"$indexDir/edges")
    // mutual edges are stored once (id_a < id_b); walks need both ways
    val adj = edges.select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionByName(edges.select(col("id_b").as("src"), col("id_a").as("dst")))
    val vecs = Ingest.parquet(spark, s"$indexDir/vecs")
      .select(col("vec_id"), col("embedding").as("c_emb"), col("n2").as("c_n2"))
    // query side: small by construction — broadcast it, never the corpus
    val q = broadcast(queries.select(col("vec_id").as("query_id"),
      col("embedding").as("q_emb"), norm2(col("embedding")).as("q_n2")))
    (adj, vecs, q)
  }

  /** Exact-cosine scorer for [[beamLoop]]: join the (query_id,
    * vec_id) pair frame (broadcast — per-query-bounded by
    * construction) against the probed vectors and the broadcast query
    * frame. The default walk scorer; [[graphBeamSearchAdc]] swaps in
    * the PQ lookup-table scorer instead.
    */
  private def exactScorer(vecs: DataFrame, q: DataFrame)(pairs: DataFrame): DataFrame =
    broadcast(pairs)
      .join(vecs, Seq("vec_id"))
      .join(q, Seq("query_id"))
      .select(col("query_id"), col("vec_id"),
        cosineFrom(dot(col("q_emb"), col("c_emb")), col("q_n2"), col("c_n2"))
          .as("cos_sim"))

  private def beamLoop(
      adj: DataFrame,
      score: DataFrame => DataFrame,
      seenBase: DataFrame,
      initFrontier: DataFrame,
      initLayers: Vector[DataFrame],
      rounds: Int,
      beam: Int,
      finish: DataFrame => DataFrame): DataFrame = {
    var frontier = initFrontier
    var layers = initLayers
    var r = 0
    var dead = false
    while (r < rounds && !dead) {
      r += 1
      // renamed-column + using-join discipline throughout: every frame
      // here descends from the same query frame, and df("col")-style
      // references across such lineages trip the ambiguous-self-join
      // analyzer check (the scoredPairs precedent)
      // explicit broadcast hints on the per-query frames: the frontier
      // is ≤ beam rows per query and the fresh candidate set ≤ beam ×
      // avg-degree — at 100 TB the EDGE and VECTOR tables are the huge
      // sides, and an unhinted planner (statistics-blind behind the
      // cached layers) would happily broadcast them instead
      // (PlanGuardSpec pins corpus-never-broadcast)
      val nbrs = broadcast(frontier.select(col("query_id"), col("vec_id").as("src")))
        .join(adj, Seq("src"))
        .select(col("query_id"), col("dst").as("cand_id"))
        .distinct()
      val seen = layers.map(_.select(col("query_id"), col("vec_id")))
        .foldLeft(seenBase)(_.unionByName(_))
      val fresh = nbrs.join(
        seen.withColumnRenamed("vec_id", "cand_id"),
        Seq("query_id", "cand_id"), "left_anti")
      val scored = score(fresh.withColumnRenamed("cand_id", "vec_id"))
      // Eager LOCAL CHECKPOINT, not persist (the connectedComponents
      // lineage-truncation rationale, measured here too): round r's
      // layer plan embeds every earlier layer (through `seen`) plus
      // the full scorer lineage, so under persist each round — and
      // EVERY later action on the returned frame — re-paid Catalyst
      // analysis of the whole accumulated tree (~2.5 s per action at
      // 3 rounds, constant-time re-counts included; the cached DATA
      // was hit, the driver-side re-planning was the cost).
      // Checkpointing flattens each layer to a materialized scan, so
      // per-round planning stays O(round size) and the finish plan is
      // a union of flat scans.
      val layer = Ranking.topKPerGroup(
        scored, Seq("query_id"),
        Seq(col("cos_sim").desc, col("vec_id").asc), beam).drop("rk")
        .localCheckpoint(true)
      val n = layer.count()
      if (n == 0) dead = true
      else {
        layers :+= layer
        frontier = layer.select(col("query_id"), col("vec_id"))
      }
    }
    if (layers.isEmpty) return finish(seenBase.filter(lit(false))
      .withColumn("cos_sim", lit(0.0d)))
    // the result is itself a flat eager checkpoint: repeated consumer
    // actions (Verify's write, Bench's noop drive) re-plan a bare
    // scan, and callers may release their build-side caches without
    // any dependency on this frame's lineage
    finish(layers.reduce(_.unionByName(_))).localCheckpoint(true)
  }

  /** Compact a saved graph after appends (AnnIndex.compactIvf's
    * rewrite-then-swap recipe): vecs/ re-clustered one file per
    * bucket partition, knn/ and edges/ to `targetFiles`. Row content
    * is unchanged by construction, so probes are bit-identical — the
    * law ExtSpec asserts alongside the file-count drop.
    */
  def compactKnnGraph(
      spark: org.apache.spark.sql.SparkSession,
      indexDir: String, targetFiles: Int = 4): Unit = {
    val vecsTmp = s"$indexDir/vecs_compacting"
    Ingest.parquet(spark, s"$indexDir/vecs")
      .repartition(col("bucket"))
      .write.mode("overwrite").partitionBy("bucket").parquet(vecsTmp)
    AnnIndex.swapIn(indexDir, "vecs", vecsTmp)
    val knnTmp = s"$indexDir/knn_compacting"
    Ingest.parquet(spark, s"$indexDir/knn").coalesce(targetFiles)
      .write.mode("overwrite").parquet(knnTmp)
    AnnIndex.swapIn(indexDir, "knn", knnTmp)
    val edgesTmp = s"$indexDir/edges_compacting"
    Ingest.parquet(spark, s"$indexDir/edges").coalesce(targetFiles)
      .write.mode("overwrite").parquet(edgesTmp)
    AnnIndex.swapIn(indexDir, "edges", edgesTmp)
  }
}
