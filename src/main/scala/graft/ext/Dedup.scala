package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.GraftSession

/** Exact deduplication (SURVEY §2.8 E1).
  *
  * `dropDuplicates(keys)` keeps an ARBITRARY row per key — fine for
  * idempotent pipelines, useless for oracle-verified ones. The
  * deterministic variant keeps the minimum row by an explicit order
  * column (window row_number, one shuffle on the dedup key), which is
  * what a reproducible training-data pipeline wants anyway: reruns
  * keep the same representative.
  *
  * At 100 TB: dedup on a FINGERPRINT ([[TextOps.fingerprint]]) of the
  * content, not the content itself — only (key, order, id) columns
  * shuffle; full documents are re-joined (or carried) afterwards.
  */
object Dedup {

  /** Spark-native arbitrary-representative dedup (kept for API
    * parity; not oracle-comparable by construction).
    */
  def exact(df: DataFrame, keys: Seq[String]): DataFrame =
    df.dropDuplicates(keys)

  /** SimHash chunk geometry for [[simhashPairs]]: a 32-bit simhash
    * cut into 4 chunks of 8 bits. Pigeonhole: two hashes within
    * hamming distance 3 differ in at most 3 bits, so at least one of
    * the 4 chunks is bit-identical — bucketing on (chunk index, chunk
    * value) has perfect recall for radius ≤ 3. At corpus scale the
    * same design widens to a 64-bit simhash with 16-bit chunks (more
    * selective buckets, radius ≤ 3 still guaranteed).
    */
  val SimHashChunks = 4
  val SimHashChunkBits = 8

  /** SimHash hamming near-duplicate pairs — the third near-dup family
    * next to MinHash banding ([[MinHash.candidatePairs]]) and
    * embedding LSH ([[Similarity.nearDupPairs]]), and the cheapest:
    * ONE long per document (no signature array, no embedding), one
    * chunk-bucket self-join, `bit_count(xor)` as the verifier.
    *
    * Plan shape: per-row simhash (codegen'd one-pass
    * [[graft.functions.SimHash32]]) → eager-persisted hash table
    * (both self-join sides read it) → posexplode into 4 chunk rows →
    * equality join on (chunk index, chunk value) → hamming filter in
    * the candidate stream → distinct. Candidate-bounded, never
    * all-pairs; both sides shuffle once on the chunk key.
    */
  def simhashPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      radius: Int = 3): DataFrame = {
    require(radius <= SimHashChunks - 1,
      s"$SimHashChunks chunks guarantee recall only for radius <= ${SimHashChunks - 1}")
    val hs = transform(TextOps.tokens(col(textCol)), t => TextOps.md5Int32(t))
    val sims = graft.ops.Sink.cachedEager(
      df.select(col(idCol).as("doc_id"), TextOps.simhash32(hs).as("simhash")))
    val chunkVals = (0 until SimHashChunks).map { c =>
      shiftright(col("simhash"), c * SimHashChunkBits)
        .bitwiseAND(lit((1L << SimHashChunkBits) - 1))
    }
    val chunks = sims.select(
      col("doc_id"), col("simhash"),
      posexplode(array(chunkVals: _*)).as(Seq("cidx", "cval")))
    chunks.as("a")
      .join(
        chunks.as("b"),
        col("a.cidx") === col("b.cidx") && col("a.cval") === col("b.cval") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(
        col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash")))
          .cast("long").as("hamming"))
      .filter(col("hamming") <= radius)
      .distinct()
  }

  /** The session an iterative graph loop runs on: shuffle partitions
    * sized to the loop's working set of `rows` rows (one per 500k, at
    * most the session's width) and AQE off. The session's width is
    * sized for corpus-scale scans, but every loop shuffle is bounded by
    * the active subgraph, and per-stage scheduling overhead plus AQE's
    * re-plan latency dominates tiny iterations — measured 4× per
    * iteration at sf0.1.
    */
  private def loopSession(spark: SparkSession, rows: Long): SparkSession = {
    val sessionParts = spark.conf.get("spark.sql.shuffle.partitions").toLong
    val loopParts = math.max(1L, math.min(rows / 500000L + 1L, sessionParts))
    GraftSession.scoped(spark, Seq(
      "spark.sql.shuffle.partitions" -> loopParts.toString,
      "spark.sql.adaptive.enabled" -> "false"))
  }

  /** Connected components over a near-dup pair list: every vertex
    * gets the MINIMUM id reachable from it as its component label —
    * the step that turns pairwise candidates ([[MinHash
    * .candidatePairs]], [[Dedup.simhashPairs]], [[Similarity
    * .nearDupPairs]]) into dedup GROUPS with a canonical
    * representative (keep `id == component`, drop the rest).
    *
    * Algorithm: iterative min-label propagation — each round, every
    * vertex takes the min of its own label and its neighbors'; stop
    * when no label changed. Converges in O(graph diameter) rounds;
    * near-dup clusters are near-cliques (diameter ≈ 1–2), so 2–3
    * rounds in practice. Each round is one co-partitioned join +
    * partial-agg min — all distributed, nothing driver-side except
    * the converged? flag. For graphs that can contain long chains,
    * [[connectedComponentsStar]] is the O(log n)-rounds alternative;
    * for dedup graphs (near-cliques) the plain loop is the right
    * trade.
    *
    * `vertices`: one `id` column; `pairs`: `a`, `b` (any orientation,
    * symmetrized internally). Returns (id, component).
    *
    * The loop runs on its own profile session ([[loopSession]]), so
    * it is safe to run beside other queries on the same SparkSession.
    */
  def connectedComponents(
      vertices: DataFrame,
      pairs: DataFrame,
      maxIter: Int = 20): DataFrame = {
    // localCheckpoint (not persist): iterative plans GROW — labels(i)
    // references labels(i-1) and the full pair lineage, and re-analyzing
    // that tree each round soon costs more than executing it.
    // Checkpointing truncates the logical plan to the materialized
    // partitions, so every iteration plans against a flat scan.
    // (local = stored on executors; an HA production run would use
    // reliable checkpoint() to the cluster FS instead.)
    val p = pairs.select(col("a"), col("b")).localCheckpoint()
    val edges = p.unionByName(p.select(col("b").as("a"), col("a").as("b")))
    // Only edge-touched vertices can ever change label — the loop runs
    // on this (near-dup-sized) subset; the singleton majority of a
    // 100 TB corpus never enters an iteration and is joined back at
    // the end with component = id. The initial labeling FUSES the
    // first propagation round: label₀(v) = min(v, min neighbor) is one
    // aggregation over the edge list (self-loops unioned in), saving a
    // full join+agg round — for the diameter-1 clusters that dominate
    // near-dup graphs the loop then converges in a single iteration.
    var labels = edges.select(col("a").as("id"), col("b").as("component"))
      .unionByName(edges.select(col("a").as("id"), col("a").as("component")))
      .groupBy("id").agg(min("component").as("component"))
      .localCheckpoint()
    // convergence: labels only ever decrease, so the component-sum is
    // strictly decreasing until the fixpoint — reading it doubles as
    // the persist's materializing action (ONE job per iteration).
    def materializeAndSum(df: DataFrame): (java.math.BigDecimal, Long) = {
      val r = df.agg(
        sum(col("component").cast("decimal(38,0)")), count(lit(1))).head()
      (r.getDecimal(0), r.getLong(1))
    }
    val (sum0, activeCount) = materializeAndSum(labels)
    var prevSum = sum0
    // the label keyset is FIXED (the active vertices), so one measured
    // count decides the loop's join strategy: broadcast the label side
    // while it fits (near-dup graphs are sparse — active vertices ≤
    // 2·|pairs| no matter the corpus size), shuffle join beyond.
    val broadcastLabels = activeCount < 1000000L
    var iter = 0
    var converged = false
    // The loop runs on the active-subgraph profile (rebound there and
    // back); the corpus-sized final join runs on the caller's session.
    val spark = vertices.sparkSession
    val loop = loopSession(spark, activeCount)
    val loopEdges = GraftSession.rebind(edges, loop)
    labels = GraftSession.rebind(labels, loop)
    while (!converged && iter < maxIter) {
      val lbl = if (broadcastLabels) broadcast(labels) else labels
      val prop = lbl.join(loopEdges, col("id") === col("a"))
        .select(col("b").as("id"), col("component"))
      val next = labels.unionByName(prop)
        .groupBy("id").agg(min("component").as("component"))
        .localCheckpoint()
      val (nextSum, _) = materializeAndSum(next)
      converged = nextSum.compareTo(prevSum) == 0
      prevSum = nextSum
      labels = next
      iter += 1
    }
    vertices.select(col("id"))
      .join(GraftSession.rebind(labels, spark).withColumnRenamed("id", "__cid"),
        col("id") === col("__cid"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("component"))
  }

  /** Connected components by ALTERNATING STAR CONTRACTION — the
    * general-graph production variant [[connectedComponents]]'s
    * scaladoc promises: O(log n) rounds on ANY topology, vs the
    * min-label loop's O(diameter). Near-dup graphs are near-cliques
    * where the plain loop wins (1-2 rounds, half the jobs per round);
    * reach for THIS one when the pair graph can contain long chains
    * (transitive similarity at a loose threshold, entity-resolution
    * edges, co-occurrence links).
    *
    * Algorithm (public literature: Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC'14 — the
    * large-star/small-star alternation):
    *
    *   large-star: every node u re-points its LARGER neighbors at
    *     m(u) = min(neighbors(u) ∪ u);
    *   small-star: every node u re-points its smaller neighbors (and
    *     itself) at m(u) over the smaller neighbors.
    *
    * Both steps preserve connectivity and only ever point edges at
    * smaller ids; the fixpoint is a forest of stars whose centers are
    * the component minima. Each round is two groupBy-min + two joins
    * — all distributed, nothing driver-side but the convergence
    * check. Edges live canonically as (hi, lo), lo < hi; every
    * operator below maintains that invariant, so convergence can be
    * watched on the strictly-decreasing (count, sum) of the edge set.
    *
    * Returns (id, component) like [[connectedComponents]]; the two
    * are law-tested equal (DedupStarSpec), and the chain fixture
    * asserts the O(log n) round count the plain loop cannot achieve.
    * Its rounds run on a [[loopSession]] too.
    */
  def connectedComponentsStar(
      vertices: DataFrame,
      pairs: DataFrame,
      maxIter: Int = 30): DataFrame =
    connectedComponentsStarWithRounds(vertices, pairs, maxIter)._1

  /** Returns (labels, rounds, initialEdgeCount). The edge count comes
    * from the convergence fingerprint the loop computes anyway — it
    * costs no extra job, and callers that need a size-derived round
    * bound (e2_chain_components) can use it instead of re-scanning
    * the corpus (r8 VERDICT #3).
    */
  private[graft] def connectedComponentsStarWithRounds(
      vertices: DataFrame,
      pairs: DataFrame,
      maxIter: Int = 30): (DataFrame, Int, Long) = {

    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.select(col("hi").as("x"), col("lo").as("y"))
        .unionByName(e.select(col("lo").as("x"), col("hi").as("y")))
      val mins = sym.groupBy("x").agg(least(min(col("y")), col("x")).as("m"))
      sym.join(mins, "x").filter(col("y") > col("x"))
        .select(col("y").as("hi"), col("m").as("lo")).distinct()
    }

    def smallStar(e: DataFrame): DataFrame = {
      val mins = e.groupBy("hi").agg(min(col("lo")).as("m"))
      val reattach = e.join(mins, "hi").filter(col("lo") =!= col("m"))
        .select(col("lo").as("hi"), col("m").as("lo"))
      mins.select(col("hi"), col("m").as("lo"))
        .unionByName(reattach).distinct()
    }

    var edges = pairs.select(col("a"), col("b")).filter(col("a") =!= col("b"))
      .select(greatest(col("a"), col("b")).as("hi"), least(col("a"), col("b")).as("lo"))
      .distinct().localCheckpoint()

    def fingerprint(e: DataFrame): (Long, java.math.BigDecimal) = {
      val r = e.agg(count(lit(1)),
        coalesce(sum((col("hi") + col("lo")).cast("decimal(38,0)")),
          lit(java.math.BigDecimal.ZERO))).head()
      (r.getLong(0), r.getDecimal(1))
    }

    var (prevN, prevSum) = fingerprint(edges)
    val initialEdges = prevN
    var iter = 0
    var converged = prevN == 0L
    // The rounds run on the edge-set profile (the min-label loop's
    // discipline, applied here too: every loop shuffle is bounded by
    // the current edge count, which only ever shrinks). The edge
    // materialization above and the corpus-scale final join below
    // both run on the caller's session.
    val spark = vertices.sparkSession
    edges = GraftSession.rebind(edges, loopSession(spark, initialEdges))
    while (!converged && iter < maxIter) {
      // localCheckpoint per round: like the min-label loop, iterative
      // lineage grows without bound otherwise
      val next = smallStar(largeStar(edges)).localCheckpoint()
      val (n, s) = fingerprint(next)
      // edges only ever re-point DOWNWARD, so (count, sum) strictly
      // decreases until the star fixpoint
      converged = n == prevN && s.compareTo(prevSum) == 0
      prevN = n; prevSum = s
      edges = next
      iter += 1
    }
    val labels = GraftSession.rebind(edges, spark)
      .groupBy("hi").agg(min(col("lo")).as("component"))
      .select(col("hi").as("__cid"), col("component"))
    val out = vertices.select(col("id"))
      .join(labels, col("id") === col("__cid"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("component"))
    (out, iter, initialEdges)
  }

  /** Global triangle count of an undirected pair graph — the
    * clustering-structure probe for a near-dup candidate graph
    * (cliques of mutual duplicates are triangle-dense; chains and
    * stars are triangle-free, so the count distinguishes "one
    * document copied everywhere" from "a family of mutual edits").
    *
    * Algorithm: degree orientation (Schank & Wagner 2005 / the MR
    * adaptation in Suri & Vassilvitskii WWW'11): orient every edge
    * from its lower-(degree, id) endpoint to the higher, which caps
    * every out-neighborhood at O(√m) on ANY graph — wedges are then
    * Σ outdeg² = O(m^1.5) worst case instead of Σ deg² (unbounded
    * under hub skew). Each triangle {a≺b≺c} is counted exactly once
    * as the wedge a→b→c closed by a→c. All three joins are equi-keyed
    * (co-partitioned on node ids); the edge and oriented frames are
    * persisted because each feeds multiple joins.
    *
    * Output: one row (n_edges, n_triangles).
    */
  def triangleCount(pairs: DataFrame, aCol: String, bCol: String): DataFrame = {
    val e = pairs.select(col(aCol).as("u"), col(bCol).as("v")).persist()
    val deg = e.select(col("u").as("node"))
      .union(e.select(col("v").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("d"))
    val uFirst = col("du") < col("dv") ||
      (col("du") === col("dv") && col("u") < col("v"))
    val o = e
      .join(deg.select(col("node").as("u"), col("d").as("du")), Seq("u"))
      .join(deg.select(col("node").as("v"), col("d").as("dv")), Seq("v"))
      .select(
        when(uFirst, col("u")).otherwise(col("v")).as("x"),
        when(uFirst, col("v")).otherwise(col("u")).as("y"))
      .persist()
    val wedges = o.join(
      o.select(col("x").as("y"), col("y").as("z")), Seq("y"))
    val tri = wedges.join(
      o.select(col("x"), col("y").as("z")), Seq("x", "z"), "left_semi")
      .agg(count(lit(1)).as("n_triangles"))
    // Materialize the single aggregated output row eagerly so e and o
    // can be unpersisted HERE instead of leaking until the runner's
    // clearCache (r8 ADVICE) — the lazy form's lineage kept both caches
    // reachable, so no point inside this function could release them.
    // A 1-row aggregate collect, same category as the CC fingerprints.
    val row = e.agg(count(lit(1)).as("n_edges"))
      .crossJoin(broadcast(tri)).head()
    e.unpersist(blocking = false)
    o.unpersist(blocking = false)
    pairs.sparkSession.range(1).select(
      lit(row.getLong(0)).as("n_edges"),
      lit(row.getLong(1)).as("n_triangles"))
  }

  /** Damped PageRank over an UNDIRECTED similarity graph, fixed
    * iteration count — graph centrality for corpus curation: in a
    * near-dup cluster the highest-PR member is the natural exemplar
    * (densest, most-connected), the principled complement of "keep
    * the min id". `pairs` is one row per undirected edge
    * (aCol, bCol); every node in `nodes`/`idCol` is scored, isolated
    * nodes hold the teleport floor 0.15/N each round.
    *
    * Engine-portable arithmetic (the kmeans/e4_dim_stats recipe): the
    * per-edge contribution pr/deg is an IEEE double op (identical in
    * any engine); the per-node SUM — the only order-sensitive step —
    * accumulates in DECIMAL(28,10); the teleport update
    * pr' = 0.15/N + 0.85·S is again scalar double ops. So every
    * iteration is bit-portable and the oracle replays it as an
    * unrolled CTE chain. An undirected graph has no dangling nodes,
    * so no dangling-mass redistribution (PR then sums to < 1 when
    * isolated nodes exist — documented, mirrored by the oracle).
    *
    * Scale shape per iteration: one equi-join pr×edges shuffled on
    * the node id (identical partitioning every round), one
    * partial+final decimal agg, one left join back to the node frame
    * — O(edges) per round, lineage linear in `iters` (each round's
    * frame feeds the next exactly once; no exponential replay). The
    * edge+degree frame feeds every round and is eagerly persisted
    * (query-scoped; the runners clearCache).
    */
  def pageRank(nodes: DataFrame, idCol: String,
      pairs: DataFrame, aCol: String, bCol: String, iters: Int): DataFrame = {
    val exact = org.apache.spark.sql.types.DecimalType(28, 10)
    val und = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
      .unionByName(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
    val deg = und.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val edges = graft.ops.Sink.cachedEager(und.join(deg, Seq("src")))
    val ids = nodes.select(col(idCol).as("id"))
    val nFrame = ids.agg(count(lit(1)).as("n"))
    var pr = ids.crossJoin(broadcast(nFrame))
      .select(col("id"), (lit(1.0) / col("n").cast("double")).as("pr"))
    for (_ <- 1 to iters) {
      val sums = pr.join(edges, pr("id") === edges("src"))
        .select(col("dst").as("id"),
          (col("pr") / col("deg").cast("double")).cast(exact).as("cd"))
        .groupBy(col("id")).agg(sum(col("cd")).as("sdec"))
      pr = ids.join(sums, Seq("id"), "left")
        .crossJoin(broadcast(nFrame))
        .select(col("id"),
          (lit(0.15) / col("n").cast("double") +
            lit(0.85) * coalesce(col("sdec").cast("double"), lit(0.0))).as("pr"))
    }
    pr
  }

  /** Damped PageRank over a DIRECTED, WEIGHTED edge list — the host-
    * graph form ([[pageRank]] is the undirected near-dup variant):
    * each round a node sends pr · w/Σw_out along every out-edge;
    * nodes with no out-edges send nothing (no dangling
    * redistribution — a deterministic, oracle-replayable choice; the
    * damping teleport keeps every rank positive regardless).
    * Arithmetic is the engine-portable kmeans recipe: per-edge
    * contribution as two correctly-rounded double ops
    * ((pr / Σw_out) · w, in that order) cast to DECIMAL(28,10) for
    * the order-free sum, teleport in double.
    *
    * Scale shape: the edge frame is host-pair-scale (≪ corpus — the
    * web reality: 1e8 hosts vs 1e11 pages), cached once with its
    * out-weight; each round is one hash join + one grouped decimal
    * sum + one left join back to the node frame. The corpus is
    * touched only upstream, where link rows aggregate to weighted
    * host edges in a single shuffle.
    */
  def pageRankWeighted(nodes: DataFrame, idCol: String,
      edges: DataFrame, srcCol: String, dstCol: String, wCol: String,
      iters: Int): DataFrame = {
    val exact = org.apache.spark.sql.types.DecimalType(28, 10)
    val dir = edges.select(
      col(srcCol).as("src"), col(dstCol).as("dst"), col(wCol).as("w"))
    val wout = dir.groupBy(col("src")).agg(sum(col("w")).as("wout"))
    val ed = graft.ops.Sink.cachedEager(dir.join(wout, Seq("src")))
    // the node frame may be an expensive derivation (e2_host_rank
    // distincts hosts out of a corpus-scale extraction); it is
    // referenced by pr0 AND every round's left join, so cache it once
    // or the loop re-runs the derivation iters+1 times
    val ids = graft.ops.Sink.cachedEager(nodes.select(col(idCol).as("id")))
    val nFrame = ids.agg(count(lit(1)).as("n"))
    var pr = ids.crossJoin(broadcast(nFrame))
      .select(col("id"), (lit(1.0) / col("n").cast("double")).as("pr"))
    try {
      for (_ <- 1 to iters) {
        val sums = pr.join(ed, pr("id") === ed("src"))
          .select(col("dst").as("id"),
            ((col("pr") / col("wout").cast("double")) * col("w").cast("double"))
              .cast(exact).as("cd"))
          .groupBy(col("id")).agg(sum(col("cd")).as("sdec"))
        pr = ids.join(sums, Seq("id"), "left")
          .crossJoin(broadcast(nFrame))
          .select(col("id"),
            (lit(0.15) / col("n").cast("double") +
              lit(0.85) * coalesce(col("sdec").cast("double"), lit(0.0))).as("pr"))
      }
      // materialize before releasing the caches the loop leaned on
      pr.localCheckpoint(true)
    } finally {
      ed.unpersist(blocking = false)
      ids.unpersist(blocking = false)
    }
  }

  /** Synchronous WEIGHTED label propagation (Raghavan et al. 2007,
    * arXiv:0709.2938) for community detection — the step past
    * connected components: CC merges everything reachable, LPA
    * splits a connected graph into internally-dense communities,
    * which is what a similarity graph (mutual k-NN edges) needs.
    * Made fully deterministic — the published algorithm's random
    * order/tie-breaks would never verify cross-engine — by (a) a
    * FIXED iteration count of synchronous rounds, (b) label₀(v) = v,
    * (c) next label = argmax over neighbor labels of the edge-weight
    * sum, ties → smallest label, (d) isolated vertices keep their
    * own label. Weights route through DECIMAL(28,10) (the
    * exact-aggregation discipline): decimal sums are
    * order-independent, so the argmax never depends on float
    * summation order or partitioning.
    *
    * Scale shape: per round ONE edge-keyed equi-join (labels into the
    * symmetrized edge list), one (vertex, label) partial+final
    * decimal agg, one per-vertex top-1 (bounded window) — O(|E|) per
    * round, the standard distributed LPA. Edges are cached once and
    * reused every round; nothing all-pairs, no driver-side state.
    */
  def labelPropagation(nodes: DataFrame, idCol: String,
      edges: DataFrame, aCol: String, bCol: String, wCol: String,
      iters: Int): DataFrame = {
    val exact = org.apache.spark.sql.types.DecimalType(28, 10)
    val und = edges.select(
      col(aCol).as("src"), col(bCol).as("dst"), col(wCol).cast(exact).as("w"))
      .unionByName(edges.select(
        col(bCol).as("src"), col(aCol).as("dst"), col(wCol).cast(exact).as("w")))
    val eds = graft.ops.Sink.cachedEager(und)
    val ids = nodes.select(col(idCol).as("id"))
    var labels = ids.select(col("id"), col("id").as("label"))
    for (_ <- 1 to iters) {
      val contrib = labels
        .join(eds, labels("id") === eds("dst"))
        .groupBy(col("src"), col("label"))
        .agg(sum(col("w")).as("ws"))
      val best = graft.ops.Ranking.topKPerGroup(
        contrib, Seq("src"), Seq(col("ws").desc, col("label").asc), 1)
        .select(col("src").as("id"), col("label").as("next_label"))
      labels = ids.join(best, Seq("id"), "left")
        .select(col("id"), coalesce(col("next_label"), col("id")).as("label"))
    }
    labels
  }

  /** Multi-source BFS hop distances over an undirected edge list:
    * every vertex reachable from `seeds` within `maxHops` hops gets
    * its minimum hop count (seeds at 0). The graph-distance primitive
    * next to [[connectedComponents]] (reachability without distance)
    * and [[labelPropagation]] (density-aware grouping): "how far is
    * this document from a known-contaminated / known-high-quality
    * seed set" is a per-row feature contamination audits and
    * curriculum schedules consume.
    *
    * Scale shape: the expansion joins the FRONTIER (vertices first
    * reached last round) against the edge list — not the whole
    * reached set — so round r's join cost is |frontier_r| · avg
    * degree, the textbook level-synchronous BFS. Each round is one
    * co-partitioned equi-join on the edge source plus a min-reduce;
    * loop state is eagerly checkpointed so the lineage never
    * re-expands earlier rounds.
    * `maxHops` bounds rounds; an unreached vertex is absent from the
    * output rather than carrying an infinity sentinel.
    */
  def bfsHops(
      seeds: DataFrame, idCol: String,
      edges: DataFrame, aCol: String, bCol: String,
      maxHops: Int): DataFrame = {
    val und = edges.select(col(aCol).as("src"), col(bCol).as("dst"))
      .unionByName(edges.select(col(bCol).as("src"), col(aCol).as("dst")))
      .distinct()
    val eds = graft.ops.Sink.cachedEager(und)
    val seed = graft.ops.Sink.cachedEager(
      seeds.select(col(idCol).as("id")).distinct()
        .select(col("id"), lit(0L).as("hops")))
    // Frontier LAYERS are disjoint by construction (each round
    // anti-joins everything reached so far), so the reached set never
    // needs re-materializing: it is the lazy union of the cached
    // layers, and the result is that same union — one cachedEager per
    // round instead of two (r15: the per-round merged-union
    // materialization re-cached the whole reached set every round,
    // pure constant overhead at any scale).
    var layers = Vector(seed)
    var frontier = seed
    var live = true
    for (r <- 1 to maxHops if live) {
      val reachedIds = layers.map(_.select(col("id"))).reduce(_.unionByName(_))
      val next = frontier.join(eds, frontier("id") === eds("src"))
        .select(col("dst").as("id"), lit(r.toLong).as("hops"))
        .join(reachedIds.select(col("id").as("seen")),
          col("id") === col("seen"), "left_anti")
        .groupBy(col("id")).agg(min(col("hops")).as("hops"))
      // eager LOCAL CHECKPOINT, not persist (the beamLoop /
      // connectedComponents lineage-truncation discipline): round r's
      // plan embeds every earlier layer through `reachedIds`, so under
      // persist each round — and every later consumer action — re-paid
      // Catalyst analysis of the accumulated tree; the checkpoint
      // flattens each layer to a materialized scan
      val nextP = next.localCheckpoint(true)
      val n = nextP.count()
      if (n == 0) live = false // dead frontier stays dead
      else { layers :+= nextP; frontier = nextP }
    }
    eds.unpersist()
    // The result is a flat eager checkpoint of the layer union:
    // repeated consumer actions re-plan a bare scan, and no per-round
    // state outlives this call as a cache entry.
    layers.reduce(_.unionByName(_)).localCheckpoint(true)
  }

  /** Hop-bounded single-source-shortest-paths over a weighted
    * undirected edge list: minimum total edge weight from any seed
    * using at most `maxRounds` edges (the Bellman–Ford truncation —
    * with positive weights the bound is the operator's contract, not
    * an approximation knob, and it makes the semantics exactly
    * unrollable by a SQL oracle).
    *
    * Scale shape mirrors [[bfsHops]]: each round relaxes only the
    * FRONTIER (vertices whose distance improved last round) against
    * the edge list — cost |frontier_r| · avg degree, one
    * co-partitioned equi-join + min-reduce per round; the
    * distance-table merge is a min-group on the vertex id. Weights
    * must be non-negative integers (BIGINT path sums stay exact
    * cross-engine; double path sums would not). Loop state is
    * eagerly checkpointed so lineage never re-expands.
    */
  def ssspBounded(
      seeds: DataFrame, idCol: String,
      edges: DataFrame, aCol: String, bCol: String, wCol: String,
      maxRounds: Int): DataFrame = {
    val und = edges
      .select(col(aCol).as("src"), col(bCol).as("dst"), col(wCol).as("w"))
      .unionByName(
        edges.select(col(bCol).as("src"), col(aCol).as("dst"), col(wCol).as("w")))
      .distinct()
    val eds = graft.ops.Sink.cachedEager(und)
    val seed = graft.ops.Sink.cachedEager(
      seeds.select(col(idCol).as("id")).distinct()
        .select(col("id"), lit(0L).as("d")))
    // Improvement LAYERS replace the per-round re-materialized
    // distance table (the [[bfsHops]] r15 trim, adapted to min-merge):
    // every recorded (id, d) was the best-so-far when recorded, so the
    // current best is the lazy per-id min over the cached layers —
    // computed in-plan where the old code re-cached the whole merged
    // table each round. One cachedEager per round instead of two.
    var layers = Vector(seed)
    var frontier = seed
    var live = true
    def best: DataFrame = layers.reduce(_.unionByName(_))
      .groupBy(col("id")).agg(min(col("d")).as("d"))
    for (_ <- 1 to maxRounds if live) {
      val relaxed = frontier.join(eds, frontier("id") === eds("src"))
        .select(col("dst").as("id"), (col("d") + col("w")).as("d"))
        .groupBy(col("id")).agg(min(col("d")).as("d"))
      val improved = relaxed
        .join(best.select(col("id").as("oid"), col("d").as("od")),
          relaxed("id") === col("oid"), "left")
        .filter(col("od").isNull || col("d") < col("od"))
        .select(col("id"), col("d"))
      // eager local checkpoint — the [[bfsHops]] lineage-truncation
      // note applies verbatim (here the growth came through `best`)
      val improvedP = improved.localCheckpoint(true)
      val n = improvedP.count()
      if (n == 0) live = false // fixpoint reached
      else { layers :+= improvedP; frontier = improvedP }
    }
    eds.unpersist()
    // flat eager checkpoint of the final per-id min — same rationale
    // as [[bfsHops]]'s return
    best.localCheckpoint(true)
  }

  /** Deterministic dedup: keep the first row per key group by
    * `orderCol` ascending, and report the group size. Deterministic
    * ONLY when `orderCol` is unique within each key group (like a
    * row id) — with ties, supply the multi-column overload.
    */
  def exactDeterministic(
      df: DataFrame,
      keys: Seq[String],
      orderCol: String,
      sizeCol: String): DataFrame =
    exactDeterministic(df, keys, Seq(orderCol), sizeCol)

  def exactDeterministic(df: DataFrame, keys: Seq[String], orderCol: String): DataFrame =
    exactDeterministic(df, keys, Seq(orderCol), "group_size")

  /** Deterministic dedup, multi-column order: keep the first row per
    * key group by `orderCols` ascending. The representative is
    * deterministic iff `orderCols` TOTALLY order the rows within
    * every key group — pass enough tiebreakers to guarantee it
    * (row_number over a partial order picks an arbitrary row among
    * ties, which is exactly the non-reproducibility this operator
    * exists to remove).
    */
  def exactDeterministic(
      df: DataFrame,
      keys: Seq[String],
      orderCols: Seq[String],
      sizeCol: String = "group_size"): DataFrame = {
    require(orderCols.nonEmpty, "at least one order column required")
    val part = Window.partitionBy(keys.map(col): _*)
    val w = part.orderBy(orderCols.map(col(_).asc): _*)
    df.withColumn("__rn", row_number().over(w))
      .withColumn(sizeCol, count(lit(1)).over(part))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Duplicated-span detection: slide a `k`-token window one token at
    * a time over every document; a window whose content occurs more
    * than once ANYWHERE in the corpus (any document, any offset —
    * including a second time in the same document) marks duplicated
    * text. Returns one row per document with ≥1 window:
    * (id, n_windows, n_dup, dup_frac) where n_dup counts window
    * OCCURRENCES whose content is corpus-duplicated — the exact
    * any-alignment substring-dedup signal (chunk-based passage dedup
    * only sees stride-aligned copies; this catches a copied sentence
    * at any offset).
    *
    * Scale shape: the window explode is scan-bound per-row work; each
    * occurrence is keyed by md5(window) — a fixed-width key instead
    * of a k-word string through the exchange — and PRE-AGGREGATED to
    * (id, window-hash) before anything shuffles, so a boilerplate-hot
    * window's join multiplicity is bounded by |docs containing it|,
    * never by its occurrence count (AQE's skew split covers the
    * residual). Corpus counts derive from the pre-agg by a second
    * partial-combine (one row per distinct window out). No all-pairs
    * join, no position-level shuffle: positions collapse map-side.
    */
  /** MAXIMAL duplicated spans — the any-length extension of
    * [[duplicatedSpans]] (which only flags and counts fixed-k
    * windows): each maximal run of consecutive duplicated k-token
    * windows inside a document is one duplicated span of
    * `run + k − 1` tokens, reported as (id, span_start, span_len)
    * with 1-based token offsets. This is the bounded-window
    * distributed approximation of the suffix-array algorithm of Lee
    * et al. 2022 (arXiv:2107.06499, "Deduplicating Training Data
    * Makes Language Models Better"): a duplicated substring of
    * length L ≥ k appears as exactly L − k + 1 consecutive
    * duplicated windows, so reported spans match the suffix-array
    * maximal spans to window granularity; substrings shorter than k
    * are below the detection floor (the k knob, same trade the paper
    * tunes with its minimum match length of 50 tokens).
    *
    * Scale shape: window explode is scan-bound; duplicated-window
    * detection is the [[duplicatedSpans]] hash pre-agg (md5 keys,
    * one (hash, count>1) row per distinct window) joined back
    * LEFT-SEMI on the hash — position rows shuffle once, keyed by
    * window hash, multiplicity 1 (the semi-join never multiplies).
    * The run-merge ("gaps and islands": pos − row_number per doc) is
    * one window partitioned by doc id — per-doc serialization, fine
    * at any corpus size because no doc outgrows one partition.
    */
  def maximalDupSpans(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pos = df
      .select(col(idCol),
        posexplode(MinHash.shingles(TextOps.tokens(col(textCol)), k)).as(Seq("__p", "__w")))
      .select(col(idCol), (col("__p") + 1).cast("long").as("__pos"),
        md5(col("__w")).as("__wh"))
    val dupHashes = pos.groupBy(col("__wh")).agg(count(lit(1)).as("__n"))
      .filter(col("__n") > 1).select(col("__wh"))
    val dupPos = pos.join(dupHashes, Seq("__wh"), "left_semi")
    val w = Window.partitionBy(col(idCol)).orderBy(col("__pos"))
    dupPos
      .withColumn("__isl", col("__pos") - row_number().over(w))
      .groupBy(col(idCol), col("__isl"))
      .agg(min(col("__pos")).as("span_start"),
        (max(col("__pos")) - min(col("__pos")) + k).as("span_len"))
      .select(col(idCol), col("span_start"), col("span_len"))
  }

  def duplicatedSpans(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    val perDoc = df
      .select(col(idCol),
        explode(MinHash.shingles(TextOps.tokens(col(textCol)), k)).as("__w"))
      .select(col(idCol), md5(col("__w")).as("__wh"))
      .groupBy(col(idCol), col("__wh"))
      .agg(count(lit(1)).as("n_occ"))
    val counts = perDoc.groupBy(col("__wh")).agg(sum(col("n_occ")).as("n_corpus"))
    perDoc.join(counts, Seq("__wh"))
      .groupBy(col(idCol))
      .agg(
        sum(col("n_occ")).as("n_windows"),
        sum(when(col("n_corpus") > 1, col("n_occ")).otherwise(0L)).as("n_dup"))
      .withColumn("dup_frac", col("n_dup").cast("double") / col("n_windows"))
  }
}
