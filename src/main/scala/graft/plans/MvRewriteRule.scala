package graft.plans

import java.util.Locale

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types.DoubleType

import graft.ops.Ingest

/** One grouping key of a registered MV: its stored column name and
  * its defining expression in name-normalized canonical form.
  */
private[graft] case class MvKey(name: String, canon: Expression)

/** The join half of a JOINED MV definition: the dimension scan's file
  * paths and the two join-key expressions in name-normalized canonical
  * form. A query matches only if it performs the same INNER equi-join
  * of the same two file scans on the same key pair.
  */
private[graft] case class MvJoin(
    dimPaths: Set[String],
    factKeyCanon: Expression,
    dimKeyCanon: Expression)

/** A registered materialized aggregate: the stored
  * [[graft.ops.Materialize.rollup]] table (`key…, n, n_m, sum_m,
  * min_m, max_m`) plus enough of its DEFINITION to prove a query can
  * be answered from it — the fact scan's file paths, and the
  * key/metric expressions in name-normalized canonical form. Keys are
  * an ordered tuple; queries may group on any subset of them
  * (coarsening). `join`, when present, makes this a JOINED MV: the
  * rollup was materialized over `fact INNER JOIN dim ON fk = dk`, and
  * only a query performing that same join can be answered from it.
  */
private[graft] case class MvDef(
    name: String,
    factPaths: Set[String],
    keys: Seq[MvKey],
    metricCanon: Expression,
    mvPath: String,
    mv: LogicalRelation,
    join: Option[MvJoin] = None)

/** Registry of materialized aggregates for [[MvRewriteRule]].
  *
  * `create` materializes the rollup (one fact scan, paid once — the
  * same bootstrap cost [[graft.ops.Materialize]] documents) and
  * registers its definition; a standing MV is kept fresh by
  * [[graft.ops.Materialize.refreshInto]] (delta-only, history never
  * rescanned), so registration survives refreshes — the path is the
  * identity, and the rewrite-then-swap refresh preserves it.
  *
  * JVM-global on purpose: like a metastore's MV catalog, definitions
  * outlive any one query. The REWRITE stays opt-in per session
  * ([[MvRewriteRule.EnabledKey]]), so registering an MV never changes
  * another query's plan behind its back.
  */
object MvCatalog {

  private val defs = new java.util.concurrent.ConcurrentHashMap[String, MvDef]()

  /** Materialize `fact.groupBy(key).agg(count, sum, min, max of
    * metric-as-long)` at `path` and register it for rewriting.
    * The fact plan must be a bare file scan plus projections —
    * a filtered or joined definition would make the whole-table
    * equality the rewrite relies on unsound, so it is rejected here.
    */
  def create(
      spark: SparkSession,
      name: String,
      fact: DataFrame,
      key: Column,
      keyName: String,
      metric: Column,
      path: String): Unit =
    create(spark, name, fact, Seq(key -> keyName), metric, path)

  /** Multi-key create: materialize `fact.groupBy(keys…).agg(count,
    * sum, min, max of metric-as-long)` and register it. Queries may
    * group on any subset of the keys (see [[MvRewriteRule]]).
    */
  def create(
      spark: SparkSession,
      name: String,
      fact: DataFrame,
      keys: Seq[(Column, String)],
      metric: Column,
      path: String): Unit = {
    // Drop any MV already registered AT THIS PATH before rebuilding:
    // were it left registered and the build's own aggregate matched
    // its definition, the rewrite would make the build READ the file
    // it is about to overwrite.
    defs.values.asScala.filter(_.mvPath == path).map(_.name).foreach(defs.remove)
    graft.ops.Materialize
      .rollup(
        fact.select(keys.map { case (c, n) => c.as(n) } :+ metric.as("__graft_mv_m"): _*),
        keys.map(_._2), col("__graft_mv_m"))
      .write.mode("overwrite").parquet(path)
    register(spark, name, fact, keys, metric, path)
  }

  /** Register an ALREADY-materialized rollup (e.g. one maintained
    * incrementally by [[graft.ops.Materialize.refreshInto]]).
    */
  def register(
      spark: SparkSession,
      name: String,
      fact: DataFrame,
      key: Column,
      keyName: String,
      metric: Column,
      path: String): Unit =
    register(spark, name, fact, Seq(key -> keyName), metric, path)

  /** Multi-key registration. Key order is the stored rollup's column
    * order; matching is by canonical expression, so query-side
    * grouping order is free.
    */
  def register(
      spark: SparkSession,
      name: String,
      fact: DataFrame,
      keys: Seq[(Column, String)],
      metric: Column,
      path: String): Unit = {
    require(keys.nonEmpty, s"MV '$name': at least one grouping key required")
    // Capture the definition from the OPTIMIZED probe plan: constant
    // folding / cast simplification have run, so the stored canonical
    // forms meet the query-side expressions (seen mid-optimization by
    // the rule, stable by the fixed point's second pass) on equal terms.
    val probeCols = keys.zipWithIndex.map { case ((c, _), i) => c.as(s"__graft_mv_k$i") } :+
      metric.cast("long").as("__graft_mv_m")
    val probe = fact.select(probeCols: _*)
    val opt = probe.queryExecution.optimizedPlan
    val (aliases, filters, rel) = MvRewriteRule.decompose(opt).getOrElse(
      throw new IllegalArgumentException(
        s"MV '$name': fact must be a bare file scan (+ projections), got:\n$opt"))
    require(filters.isEmpty,
      s"MV '$name': a FILTERED fact definition cannot answer whole-table aggregates")
    val paths = MvRewriteRule.relPaths(rel).getOrElse(
      throw new IllegalArgumentException(s"MV '$name': fact scan is not a file relation"))
    def defOf(n: String): Expression = {
      val a = opt.output.find(_.name == n).getOrElse(
        throw new IllegalStateException(s"MV '$name': probe lost column $n"))
      aliases.getOrElse(a.exprId, a)
    }
    val keyDefs = keys.zipWithIndex.map { case ((_, n), i) =>
      MvKey(n, MvRewriteRule.nameNorm(defOf(s"__graft_mv_k$i")))
    }
    val mvRel = Ingest.parquet(spark, path).queryExecution.analyzed
      .collectFirst { case l: LogicalRelation => l }
      .getOrElse(throw new IllegalStateException(s"MV '$name': $path is not a file scan"))
    defs.put(name, MvDef(
      name, paths, keyDefs,
      MvRewriteRule.nameNorm(defOf("__graft_mv_m")),
      path, mvRel))
    ()
  }

  /** Materialize a JOINED rollup — `fact INNER JOIN dim ON factKey =
    * dimKey`, grouped by `keys` (from either side), aggregating
    * `metric` — and register it for rewriting. The denormalized
    * dashboard shape: group order revenue by a DIMENSION attribute
    * without paying the join at query time. Maintenance rides the
    * same merge laws as a plain rollup because the join distributes
    * over fact slices: (pre ∪ delta) ⋈ dim = (pre ⋈ dim) ∪ (delta ⋈
    * dim), so a fact-append delta refreshes as rollup(delta ⋈ dim)
    * merged in — the dim stays static (a mutated dim is a
    * [[graft.ops.Materialize.maintainKeys]] recompute, keyed by the
    * affected dim keys).
    */
  def createJoined(
      spark: SparkSession,
      name: String,
      fact: DataFrame,
      dim: DataFrame,
      factKey: Column,
      dimKey: Column,
      keys: Seq[(Column, String)],
      metric: Column,
      path: String): Unit = {
    defs.values.asScala.filter(_.mvPath == path).map(_.name).foreach(defs.remove)
    graft.ops.Materialize
      .rollup(
        fact.join(dim, factKey === dimKey)
          .select(keys.map { case (c, n) => c.as(n) } :+ metric.as("__graft_mv_m"): _*),
        keys.map(_._2), col("__graft_mv_m"))
      .write.mode("overwrite").parquet(path)
    registerJoined(spark, name, fact, dim, factKey, dimKey, keys, metric, path)
  }

  /** Register an ALREADY-materialized joined rollup (e.g. one kept
    * fresh by merging fact-delta ⋈ dim partials).
    */
  def registerJoined(
      spark: SparkSession,
      name: String,
      fact: DataFrame,
      dim: DataFrame,
      factKey: Column,
      dimKey: Column,
      keys: Seq[(Column, String)],
      metric: Column,
      path: String): Unit = {
    require(keys.nonEmpty, s"MV '$name': at least one grouping key required")
    val probeCols = keys.zipWithIndex.map { case ((c, _), i) => c.as(s"__graft_mv_k$i") } ++
      Seq(metric.cast("long").as("__graft_mv_m"),
        factKey.as("__graft_mv_fk"), dimKey.as("__graft_mv_dk"))
    val probe = fact.join(dim, factKey === dimKey).select(probeCols: _*)
    val opt = probe.queryExecution.optimizedPlan
    val dec = MvRewriteRule.decomposeJoined2(opt).getOrElse(
      throw new IllegalArgumentException(
        s"MV '$name': definition must be a bare INNER equi-join of two file scans, got:\n$opt"))
    val (aliases, filters, lrL, lrR, _, _) = dec
    def defOf(n: String): Expression = {
      val a = opt.output.find(_.name == n).getOrElse(
        throw new IllegalStateException(s"MV '$name': probe lost column $n"))
      aliases.getOrElse(a.exprId, a)
    }
    // orient the two relations: the one the fact key resolves against
    // is the fact side (the optimizer does not reorder a bare 2-table
    // join, but the registration must not depend on that)
    val fkRefs = defOf("__graft_mv_fk").references
    val (lrF, lrD) =
      if (fkRefs.subsetOf(lrL.outputSet)) (lrL, lrR)
      else if (fkRefs.subsetOf(lrR.outputSet)) (lrR, lrL)
      else throw new IllegalArgumentException(
        s"MV '$name': fact join key must come from one side of the join")
    // name-unambiguity: canonical matching is by column NAME, so a
    // name present in both scans would make the proof ambiguous
    val shared = lrF.output.map(_.name.toLowerCase(Locale.ROOT)).toSet
      .intersect(lrD.output.map(_.name.toLowerCase(Locale.ROOT)).toSet)
    require(shared.isEmpty,
      s"MV '$name': fact and dim scans share column names $shared — unsupported")
    val fkCanon = MvRewriteRule.nameNorm(defOf("__graft_mv_fk"))
    val dkCanon = MvRewriteRule.nameNorm(defOf("__graft_mv_dk"))
    // the only tolerated residual filters are the IsNotNull(join key)
    // constraints the optimizer infers from the inner join itself
    val stray = filters.flatMap(MvRewriteRule.splitConjuncts)
      .filterNot(f => MvRewriteRule.impliedByJoin(f, fkCanon, dkCanon))
    require(stray.isEmpty,
      s"MV '$name': a FILTERED joined definition cannot answer whole-join aggregates: $stray")
    val fPaths = MvRewriteRule.relPaths(lrF).getOrElse(
      throw new IllegalArgumentException(s"MV '$name': fact scan is not a file relation"))
    val dPaths = MvRewriteRule.relPaths(lrD).getOrElse(
      throw new IllegalArgumentException(s"MV '$name': dim scan is not a file relation"))
    val keyDefs = keys.zipWithIndex.map { case ((_, n), i) =>
      MvKey(n, MvRewriteRule.nameNorm(defOf(s"__graft_mv_k$i")))
    }
    val mvRel = Ingest.parquet(spark, path).queryExecution.analyzed
      .collectFirst { case l: LogicalRelation => l }
      .getOrElse(throw new IllegalStateException(s"MV '$name': $path is not a file scan"))
    defs.put(name, MvDef(
      name, fPaths, keyDefs,
      MvRewriteRule.nameNorm(defOf("__graft_mv_m")),
      path, mvRel,
      join = Some(MvJoin(dPaths, fkCanon, dkCanon))))
    ()
  }

  /** Persist every registered definition to a parquet "metastore"
    * table so a FRESH session (new JVM, empty catalog) can
    * re-register and keep rewriting — the role a warehouse
    * metastore's MV catalog plays; without it registrations die with
    * the JVM while the rollup artifacts survive on disk. The
    * canonical key/metric expressions are stored as SQL text
    * (resolved `Expression.sql` round-trips for every shape
    * `register` accepts — column refs, casts, arithmetic,
    * date_trunc — because the definition must decompose to bare-scan
    * projections to register at all); [[load]] re-parses with `expr`
    * and replays the FULL registration probe, so a definition that
    * fails to round-trip fails loudly at load time, never silently
    * mis-rewrites.
    */
  def save(spark: SparkSession, path: String): Unit = {
    val sp = spark
    import sp.implicits._
    all.toSeq.sortBy(_.name)
      .map { d =>
        (d.name, d.factPaths.toSeq.sorted, d.keys.map(_.name), d.keys.map(_.canon.sql),
          d.metricCanon.sql, d.mvPath,
          d.join.map(_.dimPaths.toSeq.sorted).getOrElse(Seq.empty[String]),
          d.join.map(_.factKeyCanon.sql).getOrElse(""),
          d.join.map(_.dimKeyCanon.sql).getOrElse(""))
      }
      .toDF("name", "fact_paths", "key_names", "key_sqls", "metric_sql",
        "mv_path", "dim_paths", "fk_sql", "dk_sql")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Re-register every definition saved by [[save]]. Idempotent:
    * re-putting a live definition overwrites it with an equal one
    * (the stored rollup artifacts are NOT rebuilt — the path is the
    * identity, exactly as with a [[graft.ops.Materialize.refreshInto]]
    * refresh). The catalog is deliberately NOT cleared first: load is
    * additive, like reading one metastore database into a session.
    */
  def load(spark: SparkSession, path: String): Unit =
    Ingest.parquet(spark, path).collect().sortBy(_.getAs[String]("name")).foreach { r =>
      def strs(c: String): Seq[String] =
        r.getAs[scala.collection.Seq[String]](c).toSeq
      val name = r.getAs[String]("name")
      val fact = Ingest.parquet(spark, strs("fact_paths"): _*)
      val keys = strs("key_names")
        .zip(strs("key_sqls"))
        .map { case (n, sql) => expr(sql) -> n }
      val metric = expr(r.getAs[String]("metric_sql"))
      val dims = strs("dim_paths")
      if (dims.isEmpty)
        register(spark, name, fact, keys.toSeq, metric, r.getAs[String]("mv_path"))
      else
        registerJoined(spark, name, fact, Ingest.parquet(spark, dims.toSeq: _*),
          expr(r.getAs[String]("fk_sql")), expr(r.getAs[String]("dk_sql")),
          keys.toSeq, metric, r.getAs[String]("mv_path"))
    }

  def unregister(name: String): Unit = { defs.remove(name); () }
  def clear(): Unit = defs.clear()
  def isEmpty: Boolean = defs.isEmpty
  private[plans] def all: Iterable[MvDef] = defs.values.asScala
}

/** A registered NDV-sketch rollup
  * ([[graft.ops.Materialize.ndvSketchExact]] artifact: `key…, hs`)
  * that can answer `count(DISTINCT id) GROUP BY key…` EXACTLY — the
  * one dashboard tile shape the mergeable count/sum/min/max rollup
  * can never serve (exact NDV does not merge). The sketch does merge,
  * and it becomes an exact answer precisely when it is everywhere
  * UNSATURATED: a group holding fewer than k distinct id hashes keeps
  * ALL of them, so `size(hs)` is the group's hash NDV, which equals
  * `count(DISTINCT id)` when the hash is collision-free over the live
  * ids. Both conditions are VALIDATED at registration (one pass each,
  * the [[FkCatalog]] discipline) and are point-in-time — `factFiles`
  * snapshots the scanned files, and a drifted fact disqualifies the
  * rewrite instead of trusting a stale proof.
  */
private[graft] case class NdvDef(
    name: String,
    factPaths: Set[String],
    factFiles: Set[String],
    keys: Seq[MvKey],
    idCanon: Expression,
    k: Int,
    exactOk: Boolean,
    mvPath: String,
    mv: LogicalRelation,
    // "kmv": ndvSketchExact artifact (`hs` array column, exact only
    // while unsaturated + collision-free); "bitmap": bitmapSketch
    // artifact (`bm` compressed exact id set — no saturation concept,
    // no hash, exact at any cardinality; see Materialize.bitmapSketch)
    kind: String = "kmv")

/** Registry of NDV-sketch rollups for [[MvRewriteRule]]'s
  * count-DISTINCT leg. JVM-global like [[MvCatalog]]; the rewrite
  * stays opt-in per session under the same
  * [[MvRewriteRule.EnabledKey]].
  */
object NdvCatalog {

  private val defs = new java.util.concurrent.ConcurrentHashMap[String, NdvDef]()

  /** Materialize `ndvSketchExact(fact, keys, id, k)` at `path` and
    * register it. The one-time build cost is the same bootstrap scan
    * every rollup pays; refreshes ride
    * [[graft.ops.Materialize.mergeNdvExact]] (delta-only).
    */
  def create(
      spark: SparkSession,
      name: String,
      fact: DataFrame,
      keys: Seq[(Column, String)],
      id: Column,
      k: Int,
      path: String): Unit = {
    defs.values.asScala.filter(_.mvPath == path).map(_.name).foreach(defs.remove)
    graft.ops.Materialize
      .ndvSketchExact(
        fact.select(keys.map { case (c, n) => c.as(n) } :+ id.as("__graft_ndv_id"): _*),
        keys.map(_._2), "__graft_ndv_id", k)
      .write.mode("overwrite").parquet(path)
    register(spark, name, fact, keys, id, k, path)
  }

  /** Register an ALREADY-materialized exact-NDV sketch. Validation
    * happens HERE, every time: the rewrite substitutes an exact
    * count(DISTINCT), so both exactness preconditions are re-proven
    * against the artifact and fact as they stand —
    *
    *  - UNSATURATION: `max(size(hs)) < k` over the stored sketch
    *    (a saturated group truncated its hash set; `size` is then an
    *    underestimate and the rewrite must never fire);
    *  - COLLISION-FREEDOM: `count(DISTINCT id) = count(DISTINCT
    *    hash(id))` over the fact (global equality implies per-group
    *    equality — a restriction of an injective map is injective);
    *  - ARTIFACT ≡ FACT (extensional): per group, `size(hs)` equals
    *    the fact's true distinct hash count over the exact group
    *    universe — the check that catches a STALE artifact whose fact
    *    drifted before a re-register/metastore reload snapshotted the
    *    new files (law-tested in MvRewriteSpec).
    *
    * A failed condition registers with `exactOk = false`: the
    * definition is visible (and a law test can see WHY it refuses)
    * but the rewrite is disqualified. The fact's concrete file list
    * is snapshotted; any append/compaction under the same directory
    * disqualifies until re-registration re-validates.
    */
  def register(
      spark: SparkSession,
      name: String,
      fact: DataFrame,
      keys: Seq[(Column, String)],
      id: Column,
      k: Int,
      path: String): Unit = {
    require(keys.nonEmpty, s"NDV MV '$name': at least one grouping key required")
    val probeCols = keys.zipWithIndex.map { case ((c, _), i) => c.as(s"__graft_ndv_k$i") } :+
      id.as("__graft_ndv_id")
    val probe = fact.select(probeCols: _*)
    val opt = probe.queryExecution.optimizedPlan
    val (aliases, filters, rel) = MvRewriteRule.decompose(opt).getOrElse(
      throw new IllegalArgumentException(
        s"NDV MV '$name': fact must be a bare file scan (+ projections), got:\n$opt"))
    require(filters.isEmpty,
      s"NDV MV '$name': a FILTERED fact definition cannot answer whole-table aggregates")
    val paths = MvRewriteRule.relPaths(rel).getOrElse(
      throw new IllegalArgumentException(s"NDV MV '$name': fact scan is not a file relation"))
    def defOf(n: String): Expression = {
      val a = opt.output.find(_.name == n).getOrElse(
        throw new IllegalStateException(s"NDV MV '$name': probe lost column $n"))
      aliases.getOrElse(a.exprId, a)
    }
    val keyDefs = keys.zipWithIndex.map { case ((_, n), i) =>
      MvKey(n, MvRewriteRule.nameNorm(defOf(s"__graft_ndv_k$i")))
    }
    // one read of the artifact serves the stored relation and every
    // validation below
    val sketch = Ingest.parquet(spark, path)
    val mvRel = sketch.queryExecution.analyzed
      .collectFirst { case l: LogicalRelation => l }
      .getOrElse(throw new IllegalStateException(s"NDV MV '$name': $path is not a file scan"))
    import org.apache.spark.sql.functions.{coalesce, countDistinct, lit, max, size}
    // EXTENSIONAL artifact check (third job below) — the validation
    // that catches a STALE artifact (fact drifted after the sketch was
    // built, then the definition re-registered or metastore-reloaded
    // against today's files): per group, size(hs) must equal the
    // fact's true distinct hash count, over the exact group universe
    // (countDistinct skips nulls, so an all-null-id group validates
    // against its empty array). With collision-freedom this IS the
    // exactness proof — unsaturation stops being load-bearing (a
    // truncated group can't match its true count) but stays for the
    // diagnostic.
    val keyNames = keys.indices.map(i => s"__graft_ndv_k$i")
    val factNdv = probe
      .groupBy(keyNames.map(col): _*)
      .agg(countDistinct(graft.ops.Materialize.ndvHash(col("__graft_ndv_id"))).as("d"))
    val skSz = sketch.select(
      keys.map(_._2).zip(keyNames).map { case (n, kn) => col(n).as(kn) } :+
        size(col("hs")).cast("long").as("sz"): _*)
    val cond = keyNames.map(kn => skSz(kn) <=> factNdv(kn)).reduce(_ && _)
    // The three validation actions are INDEPENDENT Spark jobs (two
    // fact-side aggregates, one sketch-side max) that each leave most
    // of the cluster idle — submitted concurrently on the bounded job
    // pool (guide §2.6) so the registration pays max(job) instead of
    // Σ(job). Every definition pays validation on register AND again
    // on metastore load, so this fan-in is on s51/s53's hot path.
    val idNn = probe.select(col("__graft_ndv_id")).filter(col("__graft_ndv_id").isNotNull)
    val checks = graft.ops.Jobs.runConcurrently(spark, Seq[() => Any](
      () => sketch
        .agg(max(size(col("hs"))).as("mx")).collect()(0) match {
        case r if r.isNullAt(0) => false // empty sketch: trivially complete
        case r => r.getInt(0) >= k
      },
      () => idNn
        .agg(
          countDistinct(col("__graft_ndv_id")).as("d_id"),
          countDistinct(graft.ops.Materialize.ndvHash(col("__graft_ndv_id"))).as("d_h"))
        .collect()(0) match { case r => r.getLong(0) != r.getLong(1) },
      () => skSz.join(factNdv, cond, "full_outer")
        .filter(!(coalesce(col("sz"), lit(-1L)) <=> coalesce(col("d"), lit(-1L))))
        .limit(1).count()))
    val saturated = checks(0).asInstanceOf[Boolean]
    val collided = checks(1).asInstanceOf[Boolean]
    val mismatches = checks(2).asInstanceOf[Long]
    defs.put(name, NdvDef(
      name, paths, MvRewriteRule.relFiles(rel), keyDefs,
      MvRewriteRule.nameNorm(defOf("__graft_ndv_id")),
      k, exactOk = !saturated && !collided && mismatches == 0, path, mvRel))
    ()
  }

  /** Materialize `Materialize.bitmapSketch(fact, keys, id)` at `path`
    * and register it — the EXACT-id-set variant of [[create]]: no k,
    * no saturation, exact at any per-group cardinality
    * ([[graft.functions.Bitmap64]]). Refreshes ride
    * [[graft.ops.Materialize.mergeBitmap]] (null-safe outer join of
    * key rows + streaming set union — delta-only, no explode).
    */
  def createBitmap(
      spark: SparkSession,
      name: String,
      fact: DataFrame,
      keys: Seq[(Column, String)],
      id: Column,
      path: String): Unit = {
    defs.values.asScala.filter(_.mvPath == path).map(_.name).foreach(defs.remove)
    graft.ops.Materialize
      .bitmapSketch(
        fact.select(keys.map { case (c, n) => c.as(n) } :+ id.as("__graft_ndv_id"): _*),
        keys.map(_._2), "__graft_ndv_id")
      .write.mode("overwrite").parquet(path)
    registerBitmap(spark, name, fact, keys, id, path)
  }

  /** Register an ALREADY-materialized bitmap NDV artifact. The
    * exactness story is SHORTER than [[register]]'s, by construction:
    * the bitmap stores the group's distinct ids themselves, so there
    * is no saturation condition and no collision condition — the one
    * thing to prove is the EXTENSIONAL check, per group
    * `bitmap_card(bm) = count(DISTINCT id)` over the exact group
    * universe, which both re-proves the artifact against today's fact
    * (stale-artifact fence, same as [[register]]) and IS the rewrite's
    * prove-equal contract. Ids must be integral ([[graft.ops
    * .Materialize.bitmapSketch]] enforces it at build; re-checked here
    * because registration accepts foreign artifacts).
    */
  def registerBitmap(
      spark: SparkSession,
      name: String,
      fact: DataFrame,
      keys: Seq[(Column, String)],
      id: Column,
      path: String): Unit = {
    require(keys.nonEmpty, s"NDV MV '$name': at least one grouping key required")
    val probeCols = keys.zipWithIndex.map { case ((c, _), i) => c.as(s"__graft_ndv_k$i") } :+
      id.as("__graft_ndv_id")
    val probe = fact.select(probeCols: _*)
    val opt = probe.queryExecution.optimizedPlan
    val (aliases, filters, rel) = MvRewriteRule.decompose(opt).getOrElse(
      throw new IllegalArgumentException(
        s"NDV MV '$name': fact must be a bare file scan (+ projections), got:\n$opt"))
    require(filters.isEmpty,
      s"NDV MV '$name': a FILTERED fact definition cannot answer whole-table aggregates")
    val paths = MvRewriteRule.relPaths(rel).getOrElse(
      throw new IllegalArgumentException(s"NDV MV '$name': fact scan is not a file relation"))
    def defOf(n: String): Expression = {
      val a = opt.output.find(_.name == n).getOrElse(
        throw new IllegalStateException(s"NDV MV '$name': probe lost column $n"))
      aliases.getOrElse(a.exprId, a)
    }
    require(Seq("tinyint", "smallint", "int", "bigint")
      .contains(defOf("__graft_ndv_id").dataType.simpleString),
      s"NDV MV '$name': bitmap artifacts store ids exactly; id must be integral")
    val keyDefs = keys.zipWithIndex.map { case ((_, n), i) =>
      MvKey(n, MvRewriteRule.nameNorm(defOf(s"__graft_ndv_k$i")))
    }
    val bitmaps = Ingest.parquet(spark, path)
    val mvRel = bitmaps.queryExecution.analyzed
      .collectFirst { case l: LogicalRelation => l }
      .getOrElse(throw new IllegalStateException(s"NDV MV '$name': $path is not a file scan"))
    import org.apache.spark.sql.functions.{coalesce, countDistinct, lit}
    val keyNames = keys.indices.map(i => s"__graft_ndv_k$i")
    val factNdv = probe
      .groupBy(keyNames.map(col): _*)
      .agg(countDistinct(col("__graft_ndv_id")).as("d"))
    val bmCard = bitmaps.select(
      keys.map(_._2).zip(keyNames).map { case (n, kn) => col(n).as(kn) } :+
        graft.ops.Materialize.bitmapCard(col("bm")).as("sz"): _*)
    val cond = keyNames.map(kn => bmCard(kn) <=> factNdv(kn)).reduce(_ && _)
    val mismatches = bmCard.join(factNdv, cond, "full_outer")
      .filter(!(coalesce(col("sz"), lit(-1L)) <=> coalesce(col("d"), lit(-1L))))
      .limit(1).count()
    defs.put(name, NdvDef(
      name, paths, MvRewriteRule.relFiles(rel), keyDefs,
      MvRewriteRule.nameNorm(defOf("__graft_ndv_id")),
      k = 0, exactOk = mismatches == 0, path, mvRel, kind = "bitmap"))
    ()
  }

  /** Persist every registered NDV definition to a parquet "metastore"
    * table ([[MvCatalog.save]]'s recipe): canonical key/id expressions
    * as SQL text, kind, k and artifact path alongside. [[load]]
    * replays the FULL registration — including the exactness
    * validations and a fresh fact-file snapshot — so a definition
    * whose fact drifted while the JVM was down re-registers against
    * today's files and re-proves (or refuses) exactness, never trusts
    * yesterday's.
    */
  def save(spark: SparkSession, path: String): Unit = {
    val sp = spark
    import sp.implicits._
    all.toSeq.sortBy(_.name)
      .map { d =>
        (d.name, d.factPaths.toSeq.sorted, d.keys.map(_.name),
          d.keys.map(_.canon.sql), d.idCanon.sql, d.k, d.mvPath, d.kind)
      }
      .toDF("name", "fact_paths", "key_names", "key_sqls", "id_sql", "k", "mv_path", "kind")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Re-register every definition saved by [[save]]. Additive and
    * idempotent, like [[MvCatalog.load]]; each definition pays its
    * validation scans again — that is the point, see [[save]].
    */
  def load(spark: SparkSession, path: String): Unit =
    Ingest.parquet(spark, path).collect().sortBy(_.getAs[String]("name")).foreach { r =>
      def strs(c: String): Seq[String] =
        r.getAs[scala.collection.Seq[String]](c).toSeq
      val fact = Ingest.parquet(spark, strs("fact_paths"): _*)
      val keys = strs("key_names").zip(strs("key_sqls"))
        .map { case (n, sql) => expr(sql) -> n }
      if (r.getAs[String]("kind") == "bitmap")
        registerBitmap(spark, r.getAs[String]("name"), fact, keys.toSeq,
          expr(r.getAs[String]("id_sql")), r.getAs[String]("mv_path"))
      else
        register(spark, r.getAs[String]("name"), fact, keys.toSeq,
          expr(r.getAs[String]("id_sql")), r.getAs[Int]("k"),
          r.getAs[String]("mv_path"))
    }

  def unregister(name: String): Unit = { defs.remove(name); () }
  def clear(): Unit = defs.clear()
  def isEmpty: Boolean = defs.isEmpty
  private[plans] def all: Iterable[NdvDef] = defs.values.asScala
}

/** Optimizer rule: answer a grouped aggregate over the FACT table from
  * a registered materialized rollup — the consumption half of the
  * incremental-maintenance story ([[graft.ops.Materialize]] keeps the
  * rollup fresh in O(delta); this rule makes every matching query pay
  * O(|rollup keys|) instead of a full fact scan. At 100 TB that is the
  * difference between a seconds dashboard query and a cluster-wide
  * scan — the same exact-match + derivability rewrite tier warehouse
  * engines ship (Calcite-style MV substitution), scoped to what the
  * rollup's merge laws can PROVE:
  *
  *   count(1)           → sum(n)        (counts add across partials)
  *   count(metric)      → sum(n_m)      (non-null counts add)
  *   sum(metric)        → sum(sum_m)    (sums add)
  *   min/max(metric)    → min/max(min_m/max_m)  (reduce)
  *   avg(metric)        → sum(sum_m) / sum(n_m)  (one post-aggregation
  *                        divide of two exact BIGINTs — NOT / sum(n):
  *                        avg skips nulls, count(*) does not)
  *   group keys         → rollup key columns (any SUBSET of the
  *                        registered key tuple, including none: a
  *                        coarser group-by — or a global aggregate —
  *                        re-aggregates the mergeable statistics, the
  *                        standard MV lattice roll-up, exact because
  *                        every kept statistic merges)
  *   filters ON A KEY   → pushed onto the rollup (a key predicate
  *                        selects whole rollup groups, so it commutes
  *                        with the — possibly coarser — re-aggregation
  *                        even for a key the query does not group on;
  *                        any other filter disqualifies the rewrite —
  *                        it would need fact rows the rollup no
  *                        longer has)
  *
  * Matching is deliberately conservative (a rewrite rule must never
  * fire on a plan it cannot prove equal): the aggregate's child must
  * decompose to projections/filters over the EXACT fact file scan the
  * MV was defined on — or, for a JOINED MV, to the exact INNER
  * equi-join of the registered fact and dim file scans on the
  * registered key pair (either orientation; the IsNotNull join-key
  * constraints the optimizer infers are discarded as join-implied;
  * a joined MV never answers a bare fact aggregate, whose rows an
  * inner join would not preserve) — every grouping expression must
  * match a DISTINCT registered key and every aggregate argument the
  * registered metric (name-normalized canonical compare, so attribute
  * ids don't matter), and aggregates must be among the derivable
  * functions above, non-DISTINCT, unfiltered. Anything else leaves
  * the plan untouched. When SEVERAL registered MVs prove the same
  * aggregate, the cheapest stored artifact wins (relation statistics,
  * name tie-break) — the standard lattice choice; see `cheapest`.
  *
  * Output attribute ids and positions are preserved (each rewritten
  * aggregate re-uses the original alias's exprId), so parent operators
  * never notice the substitution. Opt-in via session conf
  * `spark.graft.mv.enabled` (default false): semantics are proven
  * equal by law tests, but plan SHAPE changes only when asked for —
  * the j14/j16 pinned-conf-window discipline.
  */
object MvRewriteRule extends Rule[LogicalPlan] with PredicateHelper {

  val EnabledKey = "spark.graft.mv.enabled"

  private[plans] def splitConjuncts(f: Expression): Seq[Expression] =
    splitConjunctivePredicates(f)

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if ((MvCatalog.isEmpty && NdvCatalog.isEmpty) ||
      conf.getConfString(EnabledKey, "false") != "true") plan
    else plan.transform {
      case agg: Aggregate => rewrite(agg).getOrElse(agg)
    }
  }

  private def rewrite(agg: Aggregate): Option[Aggregate] =
    rewriteSingle(agg).orElse(rewriteJoined(agg)).orElse(rewriteNdv(agg))

  /** Cost-based choice among PROVEN candidates: when several
    * registered MVs can each answer the query (the lattice makes this
    * common — a (day, custkey) rollup and a (day) rollup both answer
    * a group-by-day), pick the one with the smallest stored footprint
    * (the file relation's own statistics — no extra scan), name as
    * the deterministic tie-break. Every candidate is already proven
    * equal by [[tryRewrite]], so the choice is pure cost: answering
    * from the coarser artifact re-aggregates fewer rows. At 100 TB
    * this is the difference between scanning a 365-row daily rollup
    * and re-aggregating a billion-row (day × customer) one.
    */
  private def cheapest(cands: Seq[(MvDef, Aggregate)]): Option[Aggregate] =
    cands.sortBy { case (mv, _) => (mv.mv.relation.sizeInBytes, mv.name) }
      .headOption.map(_._2)

  private def rewriteSingle(agg: Aggregate): Option[Aggregate] =
    for {
      (aliases, filters, rel) <- decompose(agg.child)
      paths <- relPaths(rel)
      // several MVs can share a fact table (different keys/metrics):
      // prove each candidate, then take the CHEAPEST proof. A JOINED
      // MV must never answer a bare fact aggregate — its rows are
      // post-join (inner-join drops unmatched fact rows).
      out <- cheapest(
        MvCatalog.all.filter(d => d.join.isEmpty && d.factPaths == paths)
          .toSeq.sortBy(_.name)
          .flatMap(mv => tryRewrite(agg, aliases, filters, mv).map(mv -> _)))
    } yield out

  /** The joined-MV leg: the aggregate's child must decompose to an
    * INNER equi-join of exactly the registered fact and dim file
    * scans on the registered key pair (either textual orientation);
    * residual filters implied by the join (IsNotNull on a join key)
    * are discarded, everything else flows to [[tryRewrite]]'s
    * key-only filter discipline unchanged.
    */
  private def rewriteJoined(agg: Aggregate): Option[Aggregate] =
    for {
      (aliases, filters, lrA, lrB, kA, kB) <- decomposeJoined2(agg.child)
      pA <- relPaths(lrA)
      pB <- relPaths(lrB)
      // canonical matching is by name — bail out if the two scans
      // share any column name (same guard as registration)
      if lrA.output.map(_.name.toLowerCase(Locale.ROOT)).toSet
        .intersect(lrB.output.map(_.name.toLowerCase(Locale.ROOT)).toSet).isEmpty
      kAc = nameNorm(inline(kA, aliases))
      kBc = nameNorm(inline(kB, aliases))
      out <- cheapest(MvCatalog.all.toSeq.sortBy(_.name).flatMap { mv =>
        mv.join match {
          case Some(j)
              // the registered (fact, dim, fk, dk) quadruple, in
              // either left/right orientation of the query's join
              if (mv.factPaths == pA && j.dimPaths == pB &&
                ((kAc.semanticEquals(j.factKeyCanon) && kBc.semanticEquals(j.dimKeyCanon)) ||
                  (kAc.semanticEquals(j.dimKeyCanon) && kBc.semanticEquals(j.factKeyCanon)))) ||
                (mv.factPaths == pB && j.dimPaths == pA &&
                  ((kBc.semanticEquals(j.factKeyCanon) && kAc.semanticEquals(j.dimKeyCanon)) ||
                    (kBc.semanticEquals(j.dimKeyCanon) && kAc.semanticEquals(j.factKeyCanon)))) =>
            // split AND-trees first: a user key-filter arrives fused
            // with the inferred IsNotNull(join key) in one conjunction
            val residual = filters.flatMap(splitConjunctivePredicates)
              .filterNot(f => impliedByJoin(f, j.factKeyCanon, j.dimKeyCanon))
            tryRewrite(agg, aliases, residual, mv).map(mv -> _)
          case _ => None
        }
      })
    } yield out

  /** The count-DISTINCT leg ([[NdvCatalog]]): `count(DISTINCT id)
    * GROUP BY key…` over the registered fact becomes `sum(size(hs))`
    * over the stored exact-NDV sketch — one row per group in, one per
    * group out, so the Sum is a 1-row-group reduce that preserves the
    * Aggregate plan shape (parents never notice). Fires only when the
    * definition's exactness proof is LIVE: `exactOk` (unsaturated +
    * collision-free, validated at registration) AND the fact scan
    * still holds exactly the validated files. The grouping must cover
    * the registered key tuple EXACTLY — coarsening a count-distinct
    * needs the union of per-group id sets, not a sum, so a subset
    * grouping is not provable from per-group sizes and disqualifies.
    * Key-only filters push onto the sketch exactly as in
    * [[tryRewrite]] (a key predicate selects whole sketch rows).
    */
  private def rewriteNdv(agg: Aggregate): Option[Aggregate] =
    for {
      (aliases, filters, rel) <- decompose(agg.child)
      paths <- relPaths(rel)
      files = relFiles(rel)
      out <- NdvCatalog.all
        .filter(d => d.exactOk && d.factPaths == paths && d.factFiles == files)
        .toSeq.sortBy(_.name)
        .flatMap(d => tryNdvRewrite(agg, aliases, filters, d))
        .headOption
    } yield out

  private def tryNdvRewrite(
      agg: Aggregate,
      aliases: Map[ExprId, Expression],
      filters: Seq[Expression],
      mv: NdvDef): Option[Aggregate] = {
    def keyIdx(e: Expression): Option[Int] = {
      val n = nameNorm(inline(e, aliases))
      mv.keys.indexWhere(k => n.semanticEquals(k.canon)) match {
        case -1 => None
        case i => Some(i)
      }
    }
    def isId(e: Expression): Boolean =
      nameNorm(inline(e, aliases)).semanticEquals(mv.idCanon)

    val gMatched: Seq[(Option[Int], Option[ExprId])] = agg.groupingExpressions.map {
      case al: Alias => (keyIdx(al.child), Some(al.exprId))
      case a: Attribute => (keyIdx(a), Some(a.exprId))
      case e => (keyIdx(e), None)
    }
    if (gMatched.exists(_._1.isEmpty)) return None
    val gIdx = gMatched.map(_._1.get)
    if (gIdx.distinct.size != gIdx.size) return None
    val exactGrain = gIdx.toSet == mv.keys.indices.toSet
    // the KMV-exact artifact is grain-LOCKED: per-group sizes cannot
    // answer a coarser grouping (ids shared across groups would
    // double-count). The bitmap artifact is a true lattice node — the
    // id SETS union losslessly — so any key SUBSET (including the
    // global aggregate) coarsens by re-aggregating with
    // graft_bitmap_union_agg and counting the union.
    if (!exactGrain && mv.kind != "bitmap") return None
    val idToIdx: Map[ExprId, Int] =
      gMatched.collect { case (Some(i), Some(id)) => id -> i }.toMap

    val mvRel = mv.mv.newInstance().asInstanceOf[LogicalRelation]
    def mvAttr(n: String): Option[Attribute] =
      mvRel.output.find(_.name.equalsIgnoreCase(n))
    val rewritten = for {
      kAs <- Some(mv.keys.map(k => mvAttr(k.name)))
        .filter(_.forall(_.isDefined)).map(_.map(_.get))
      hsA <- mvAttr(if (mv.kind == "bitmap") "bm" else "hs")
    } yield {
      def attrKeyIdx(a: AttributeReference): Option[Int] =
        idToIdx.get(a.exprId).orElse(keyIdx(a))
      val fRews = filters.map(_.transformUp {
        case e if keyIdx(e).exists(i => e.dataType == kAs(i).dataType) =>
          kAs(keyIdx(e).get)
      })
      if (fRews.exists(f => !f.references.subsetOf(AttributeSet(kAs)))) return None

      // count(DISTINCT id) → sum(size(hs)) for the KMV-exact artifact,
      // sum(bitmap_card(bm)) for the bitmap one: at the EXACT grain
      // each group is exactly one sketch row, so the Sum is a
      // 1-row-group reduce — cast to LONG where needed to keep
      // Count's output type bit-for-bit. COARSENED (bitmap only,
      // gated above): the group's sketch rows re-aggregate by set
      // union and the count reads off the union — still exact,
      // because the union dedups the ids the per-group counts would
      // double-count.
      def derive(ae: AggregateExpression): Option[Expression] = ae.aggregateFunction match {
        case Count(Seq(c)) if ae.isDistinct && ae.filter.isEmpty && isId(c) =>
          if (!exactGrain)
            Some(graft.functions.BitmapCard(AggregateExpression(
              graft.functions.BitmapUnionAgg(hsA), ae.mode, isDistinct = false)))
          else {
            val perGroup =
              if (mv.kind == "bitmap") graft.functions.BitmapCard(hsA)
              else Cast(Size(hsA, legacySizeOfNull = false),
                org.apache.spark.sql.types.LongType)
            Some(AggregateExpression(Sum(perGroup), ae.mode, isDistinct = false))
          }
        case _ => None
      }
      val mapped: Seq[Option[NamedExpression]] = agg.aggregateExpressions.map {
        case a: AttributeReference if attrKeyIdx(a).isDefined =>
          Some(Alias(kAs(attrKeyIdx(a).get), a.name)(exprId = a.exprId))
        case al @ Alias(ae: AggregateExpression, name) =>
          derive(ae).map(e => Alias(e, name)(exprId = al.exprId))
        case al @ Alias(a: AttributeReference, name) if attrKeyIdx(a).isDefined =>
          Some(Alias(kAs(attrKeyIdx(a).get), name)(exprId = al.exprId))
        case al @ Alias(other, name) if keyIdx(other).exists(i => gIdx.contains(i)) =>
          Some(Alias(kAs(keyIdx(other).get), name)(exprId = al.exprId))
        case _ => None
      }
      if (mapped.exists(_.isEmpty)) return None
      val newAggExprs = mapped.map(_.get)
      if (newAggExprs.map(_.dataType) != agg.aggregateExpressions.map(_.dataType))
        return None
      val child = fRews.foldLeft(mvRel: LogicalPlan)((p, f) => Filter(f, p))
      Aggregate(gIdx.map(kAs), newAggExprs, child)
    }
    rewritten
  }

  /** True for the filters an inner equi-join makes tautological on
    * its own rows: IsNotNull of either join key (the optimizer infers
    * and pushes these; the MV's rows satisfy them by construction).
    */
  private[plans] def impliedByJoin(
      f: Expression, fkCanon: Expression, dkCanon: Expression): Boolean = f match {
    case IsNotNull(c) =>
      val n = nameNorm(c)
      n.semanticEquals(fkCanon) || n.semanticEquals(dkCanon)
    case _ => false
  }

  private def tryRewrite(
      agg: Aggregate,
      aliases: Map[ExprId, Expression],
      filters: Seq[Expression],
      mv: MvDef): Option[Aggregate] = {
    // Index of the registered key a query-side expression defines, if
    // any (canonical compare modulo attribute identity).
    def keyIdx(e: Expression): Option[Int] = {
      val n = nameNorm(inline(e, aliases))
      mv.keys.indexWhere(k => n.semanticEquals(k.canon)) match {
        case -1 => None
        case i => Some(i)
      }
    }
    def isMetric(e: Expression): Boolean =
      nameNorm(inline(e, aliases)).semanticEquals(mv.metricCanon)

    // Every grouping expression must match a DISTINCT registered key.
    // A strict subset (or none at all — a global aggregate) COARSENS:
    // the rollup's statistics are mergeable, so re-aggregating them at
    // the coarser grain is the standard MV lattice step and stays
    // exact. groupBy(expr.as("x")) analyzes to an Alias in the
    // grouping list; unwrap it for the match and remember its id — the
    // aggregate's key OUTPUTS are AttributeReferences to those aliases.
    val gMatched: Seq[(Option[Int], Option[ExprId])] = agg.groupingExpressions.map {
      case al: Alias => (keyIdx(al.child), Some(al.exprId))
      case a: Attribute => (keyIdx(a), Some(a.exprId))
      case e => (keyIdx(e), None)
    }
    if (gMatched.exists(_._1.isEmpty)) return None
    val gIdx = gMatched.map(_._1.get)
    if (gIdx.distinct.size != gIdx.size) return None
    val idToIdx: Map[ExprId, Int] =
      gMatched.collect { case (Some(i), Some(id)) => id -> i }.toMap

    // Fresh relation instance per rewrite: exprIds must not collide if
    // two rewrites land in one query tree.
    val mvRel = mv.mv.newInstance().asInstanceOf[LogicalRelation]
    def mvAttr(n: String): Option[Attribute] =
      mvRel.output.find(_.name.equalsIgnoreCase(n))
    val rewritten = for {
      kAs <- Some(mv.keys.map(k => mvAttr(k.name)))
        .filter(_.forall(_.isDefined)).map(_.map(_.get))
      nA <- mvAttr("n")
      sumA <- mvAttr("sum_m")
      minA <- mvAttr("min_m")
      maxA <- mvAttr("max_m")
      // optional non-null metric count (rollups built before the n_m
      // column simply don't offer count(metric)/avg(metric) derivation)
      nmA = mvAttr("n_m")
    } yield {
      // An output attribute standing for a grouped key, by grouping
      // alias id or by canonical match.
      def attrKeyIdx(a: AttributeReference): Option[Int] =
        idToIdx.get(a.exprId).orElse(keyIdx(a))
      // Filters: every occurrence of ANY registered key expression
      // becomes the rollup's key column — a key predicate selects
      // whole rollup groups, so it commutes with the (possibly
      // coarser) re-aggregation even when that key is not grouped on.
      // Anything still referencing a fact column afterwards
      // disqualifies the rewrite.
      val fRews = filters.map(_.transformUp {
        case e if keyIdx(e).exists(i => e.dataType == kAs(i).dataType) =>
          kAs(keyIdx(e).get)
      })
      if (fRews.exists(f => !f.references.subsetOf(AttributeSet(kAs)))) return None

      def aggE(fn: AggregateFunction, like: AggregateExpression): AggregateExpression =
        AggregateExpression(fn, like.mode, isDistinct = false)
      // count(*)/count(metric) derive as sums of stored counts, but
      // sum-over-empty is NULL where count-over-empty is 0 — reachable
      // only for a GLOBAL aggregate (no grouping: a pushed key filter
      // matching no rollup rows, or an empty fact, still yields one
      // output row). Grouped rewrites never see an empty group, so the
      // coalesce is confined to the global case to keep the grouped
      // plan untouched.
      def countDerive(src: Attribute, ae: AggregateExpression): Expression = {
        val s = aggE(Sum(src), ae)
        if (agg.groupingExpressions.isEmpty) Coalesce(Seq(s, Literal(0L))) else s
      }
      def deriveExpr(ae: AggregateExpression): Option[Expression] =
        ae.aggregateFunction match {
          case Count(Seq(l: Literal)) if l.value != null => Some(countDerive(nA, ae))
          // count(metric) — non-null count — is exactly the stored n_m
          case Count(Seq(c)) if isMetric(c) && nmA.isDefined =>
            Some(countDerive(nmA.get, ae))
          case s: Sum if isMetric(s.child) => Some(aggE(Sum(sumA), ae))
          case m: Min if isMetric(m.child) => Some(aggE(Min(minA), ae))
          case m: Max if isMetric(m.child) => Some(aggE(Max(maxA), ae))
          // avg(metric) = sum(sum_m) / sum(n_m) as ONE post-aggregation
          // divide of two exact BIGINTs. Bit-equal to the un-rewritten
          // Average while the group's metric sum stays below 2^53
          // (Average itself accumulates the sum in a double, so both
          // sides compute double(exact_sum)/double(n_m) — past 2^53
          // Average's own partial sums round and neither side is
          // "exact"). LEGACY divide, deliberately: an all-null-metric
          // group has sum(n_m) = 0, where Average yields NULL — ANSI
          // Divide would instead raise DIVIDE_BY_ZERO and the rewrite
          // would not be semantics-preserving.
          case av: Average
              if isMetric(av.child) && nmA.isDefined && av.dataType == DoubleType =>
            Some(Divide(
              Cast(aggE(Sum(sumA), ae), DoubleType),
              Cast(aggE(Sum(nmA.get), ae), DoubleType),
              EvalMode.LEGACY))
          case _ => None
        }
      val mapped: Seq[Option[NamedExpression]] = agg.aggregateExpressions.map {
        case a: AttributeReference if attrKeyIdx(a).isDefined =>
          Some(Alias(kAs(attrKeyIdx(a).get), a.name)(exprId = a.exprId))
        case al @ Alias(ae: AggregateExpression, name)
            if !ae.isDistinct && ae.filter.isEmpty =>
          deriveExpr(ae).map(e => Alias(e, name)(exprId = al.exprId))
        case al @ Alias(a: AttributeReference, name) if attrKeyIdx(a).isDefined =>
          Some(Alias(kAs(attrKeyIdx(a).get), name)(exprId = al.exprId))
        case al @ Alias(other, name) if keyIdx(other).exists(i => gIdx.contains(i)) =>
          Some(Alias(kAs(keyIdx(other).get), name)(exprId = al.exprId))
        case _ => None
      }
      if (mapped.exists(_.isEmpty)) return None
      val newAggExprs = mapped.map(_.get)
      // Paranoia: the substituted output must be type-identical —
      // a dataType drift here would corrupt downstream codegen.
      if (newAggExprs.map(_.dataType) != agg.aggregateExpressions.map(_.dataType))
        return None
      val child = fRews.foldLeft(mvRel: LogicalPlan)((p, f) => Filter(f, p))
      Aggregate(gIdx.map(kAs), newAggExprs, child)
    }
    rewritten
  }

  /** Peel projections/filters off a plan down to an INNER equi-join
    * of two file scans, returning (merged alias-inline map, all
    * filters from above and inside both sides inlined to relation
    * attributes, left relation, right relation, left join key, right
    * join key). None for any other shape — outer joins change row
    * multiplicity, multi-condition joins are not what was registered,
    * and anything non-decomposable on a side hides unknown semantics.
    */
  private[plans] def decomposeJoined2(p: LogicalPlan)
      : Option[(Map[ExprId, Expression], Seq[Expression],
        LogicalRelation, LogicalRelation, Expression, Expression)] = {
    // peel the stack ABOVE the join with the single-relation peeler's
    // discipline (projections of attrs/aliases, filters collected),
    // child-first so alias chains inline against the deeper map
    def peel(p: LogicalPlan)
        : Option[(Map[ExprId, Expression], Seq[Expression],
          LogicalRelation, LogicalRelation, Expression, Expression)] = p match {
      case SubqueryAlias(_, c) => peel(c)
      case Project(pl, c) =>
        val ok = pl.forall {
          case _: AttributeReference => true
          case _: Alias => true
          case _ => false
        }
        if (!ok) None
        else peel(c).map { case (m, fs, lrL, lrR, a, b) =>
          val m2 = pl.collect { case al: Alias => al.exprId -> inline(al.child, m) }
          (m ++ m2, fs, lrL, lrR, a, b)
        }
      case Filter(cond, c) =>
        peel(c).map { case (m, fs, lrL, lrR, a, b) =>
          (m, fs :+ inline(cond, m), lrL, lrR, a, b)
        }
      case Join(l, r, org.apache.spark.sql.catalyst.plans.Inner, Some(cond), _) =>
        for {
          (mL, fL, lrL) <- decompose(l)
          (mR, fR, lrR) <- decompose(r)
          mAll = mL ++ mR
          eq <- inline(cond, mAll) match {
            case EqualTo(a, b)
                if a.references.subsetOf(lrL.outputSet) &&
                  b.references.subsetOf(lrR.outputSet) => Some((a, b))
            case EqualTo(a, b)
                if a.references.subsetOf(lrR.outputSet) &&
                  b.references.subsetOf(lrL.outputSet) => Some((b, a))
            case _ => None
          }
        } yield (mAll, fL ++ fR, lrL, lrR, eq._1, eq._2)
      case _ => None
    }
    peel(p)
  }

  /** Peel projections/filters/aliases off a plan down to its file
    * scan, returning (alias-inline map to relation attributes,
    * filters inlined to relation attributes, the relation). None if
    * anything else (join, window, generate, …) sits in between.
    */
  private[plans] def decompose(p: LogicalPlan)
      : Option[(Map[ExprId, Expression], Seq[Expression], LogicalRelation)] = p match {
    case lr: LogicalRelation => Some((Map.empty, Nil, lr))
    case SubqueryAlias(_, c) => decompose(c)
    case Project(pl, c) =>
      decompose(c).flatMap { case (m, fs, lr) =>
        val ok = pl.forall {
          case _: AttributeReference => true
          case _: Alias => true
          case _ => false
        }
        if (!ok) None
        else {
          val m2 = pl.collect { case a: Alias => a.exprId -> inline(a.child, m) }
          Some((m ++ m2, fs, lr))
        }
      }
    case Filter(cond, c) =>
      decompose(c).map { case (m, fs, lr) => (m, fs :+ inline(cond, m), lr) }
    case _ => None
  }

  private def inline(e: Expression, m: Map[ExprId, Expression]): Expression =
    if (m.isEmpty) e
    else e.transformUp {
      case a: AttributeReference if m.contains(a.exprId) => m(a.exprId)
    }

  /** All file-scan root paths in a plan — for plan guards asserting
    * which tables a rewritten query actually reads.
    */
  def scanPaths(plan: LogicalPlan): Set[String] =
    plan.collect { case lr: LogicalRelation => relPaths(lr).getOrElse(Set.empty) }
      .flatten.toSet

  private[graft] def relPaths(lr: LogicalRelation): Option[Set[String]] =
    lr.relation match {
      case h: HadoopFsRelation => Some(h.location.rootPaths.map(_.toString).toSet)
      case _ => None
    }

  /** The CONCRETE files under a file scan — the point-in-time identity
    * of validated constraints ([[FkCatalog]]): rootPaths name a
    * directory, but a directory's contents drift (appends, overwrite
    * compactions), and a constraint validated against yesterday's
    * files proves nothing about today's. Snapshotting the file list at
    * registration and comparing it at rewrite time makes staleness
    * DISQUALIFY the rewrite instead of silently changing results.
    */
  private[graft] def relFiles(lr: LogicalRelation): Set[String] =
    lr.relation match {
      case h: HadoopFsRelation => h.location.inputFiles.toSet
      case _ => Set.empty
    }

  /** Canonical compare modulo attribute identity: expressions are
    * equal when their trees match with attributes compared by
    * lower-cased NAME only (exprIds zeroed, nullability erased) —
    * the registration-time probe and the user query resolve the same
    * parquet columns to different exprIds by construction.
    */
  private[plans] def nameNorm(e: Expression): Expression = e.transformUp {
    case a: AttributeReference =>
      AttributeReference(a.name.toLowerCase(Locale.ROOT), a.dataType, nullable = true)(
        ExprId(0), Nil)
  }
}
