package graft.plans

import java.util.Locale

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions.{col, expr}

import graft.ops.{Ingest, Materialize}

/** The point-in-time identity of a file scan: its root paths plus the
  * CONCRETE files under them when the definition was registered.
  * rootPaths name a directory, but a directory's contents drift
  * (appends, overwrite compactions), and a definition proven over
  * yesterday's files proves nothing about today's. Every definition
  * snapshots its scans, and [[sameScan]] at rewrite time makes a
  * drifted scan DISQUALIFY the rewrite instead of silently changing
  * results.
  */
private[graft] final case class ScanId(paths: Set[String], files: Set[String]) {
  def sameScan(lr: LogicalRelation): Boolean = ScanId.of(lr).contains(this)
}

private[graft] object ScanId {
  /** None for anything but a file scan. */
  def of(lr: LogicalRelation): Option[ScanId] = lr.relation match {
    case h: HadoopFsRelation => Some(ScanId(h.location.rootPaths.map(_.toString).toSet, relFiles(h)))
    case _ => None
  }
  private def relFiles(h: HadoopFsRelation): Set[String] = h.location.inputFiles.toSet
}

/** A definition in the [[DefCatalog]] store. */
private[graft] sealed trait Def { def name: String }

/** A definition answered from a stored artifact at `mvPath`. */
private[graft] sealed trait StoredDef extends Def { def mvPath: String }

/** One grouping key of a registered MV: its stored column name and
  * its defining expression in name-normalized canonical form.
  */
private[graft] case class MvKey(name: String, canon: Expression)

/** The join half of a JOINED MV definition: the dimension scan and the
  * two join-key expressions in name-normalized canonical form. A query
  * matches only if it performs the same INNER equi-join of the same two
  * file scans on the same key pair.
  */
private[graft] case class MvJoin(dim: ScanId, factKeyCanon: Expression, dimKeyCanon: Expression)

/** A registered materialized aggregate: the stored
  * [[graft.ops.Materialize.rollup]] table (`key…, n, n_m, sum_m,
  * min_m, max_m`) plus enough of its DEFINITION to prove a query can
  * be answered from it — the fact scan, and the key/metric expressions
  * in name-normalized canonical form. Keys are an ordered tuple;
  * queries may group on any subset of them (coarsening). `join`, when
  * present, makes this a JOINED MV: the rollup was materialized over
  * `fact INNER JOIN dim ON fk = dk`, and only a query performing that
  * same join can be answered from it.
  */
private[graft] case class MvDef(
    name: String,
    fact: ScanId,
    keys: Seq[MvKey],
    metricCanon: Expression,
    mvPath: String,
    mv: LogicalRelation,
    join: Option[MvJoin] = None) extends StoredDef

/** A registered NDV-sketch rollup
  * ([[graft.ops.Materialize.ndvSketchExact]] artifact: `key…, hs`)
  * that can answer `count(DISTINCT id) GROUP BY key…` EXACTLY — the
  * one dashboard tile shape the mergeable count/sum/min/max rollup
  * can never serve (exact NDV does not merge). The sketch does merge,
  * and it is an exact answer precisely where each group's stored
  * count equals its distinct id count: a group holding fewer than k
  * distinct id hashes keeps ALL of them, and a collision-free hash
  * makes that count the group's `count(DISTINCT id)`. `exactOk` is
  * the verdict of [[NdvCatalog]]'s one proof of that equality, made
  * at registration.
  */
private[graft] case class NdvDef(
    name: String,
    fact: ScanId,
    keys: Seq[MvKey],
    idCanon: Expression,
    k: Int,
    exactOk: Boolean,
    mvPath: String,
    mv: LogicalRelation,
    // "kmv": ndvSketchExact artifact (`hs` array column, exact only
    // where unsaturated and collision-free); "bitmap": bitmapSketch
    // artifact (`bm` compressed exact id set — no saturation concept,
    // no hash, exact at any cardinality; see Materialize.bitmapSketch)
    kind: String = "kmv") extends StoredDef

/** A declared-and-VALIDATED foreign-key relationship between two file
  * scans: every child row's key is non-null and matches exactly one
  * parent row (parent key unique). Under these three facts an inner
  * equi-join on the key pair preserves child rows 1:1, so the join is
  * removable whenever nothing above it uses parent columns.
  */
private[graft] case class FkDef(
    name: String,
    child: ScanId,
    parent: ScanId,
    childKeyCanon: Expression,
    parentKeyCanon: Expression) extends Def

/** A declared-and-validated UNIQUE key of one file scan. */
private[graft] case class UniqueDef(
    name: String, scan: ScanId, keyCanon: Expression,
    // true ⇒ the key is also validated NON-NULL — i.e. a PRIMARY KEY.
    // DISTINCT/count-DISTINCT elimination need uniqueness alone; the
    // FD group-by prune needs the stronger form (see fdGroupPrune's
    // null-extension argument).
    nonNull: Boolean) extends Def

/** The one definition catalog of the rewrite tier: the store behind
  * [[MvCatalog]], [[NdvCatalog]] and [[FkCatalog]], the registration
  * probe that turns a probe frame into a bare-scan definition, the
  * rebuild-at-a-path and metastore-load steps, and the plan peelers
  * and canonical forms [[MvRewriteRule]] and [[JoinEliminationRule]]
  * match definitions with.
  *
  * JVM-global on purpose: like a metastore's catalog, definitions
  * outlive any one query. Every REWRITE stays opt-in per session, so
  * registering a definition never changes another query's plan behind
  * its back.
  */
private[graft] object DefCatalog {

  /** Keyed by (kind, name): a name registered in one kind never
    * shadows another kind.
    */
  private val store = new java.util.concurrent.ConcurrentHashMap[(String, String), Def]()

  /** One kind of definition in the store. */
  final class Kind[D <: Def](label: String) {
    def put(d: D): Unit = { store.put(label -> d.name, d); () }
    def remove(name: String): Unit = { store.remove(label -> name); () }
    def isEmpty: Boolean = !store.keySet.asScala.exists(_._1 == label)
    def all: Iterable[D] =
      store.asScala.collect { case ((`label`, _), d) => d.asInstanceOf[D] }
  }

  /** What a registration probe proved: the scan(s) the definition reads
    * and each probe column's definition inlined to scan attributes, in
    * select order (`canon`: the same, name-normalized).
    */
  final case class Probe(rels: Seq[LogicalRelation], scans: Seq[ScanId], defs: Seq[Expression]) {
    val canon: Seq[Expression] = defs.map(nameNorm)
  }

  /** The one registration probe. `frame` selects the definition's probe
    * columns; its OPTIMIZED plan (constant folding and cast
    * simplification have run, so the stored canonical forms meet the
    * query-side expressions the rules see mid-optimization on equal
    * terms) must be projections of one bare file scan — or, when
    * `joined`, of one INNER equi-join of two, whose only residual
    * filters are the IsNotNull(join key) constraints the optimizer
    * infers from the join itself. A filtered definition would make the
    * whole-table equality every rewrite relies on unsound.
    */
  def probe(what: String, frame: DataFrame, joined: Boolean = false): Probe = {
    val opt = frame.queryExecution.optimizedPlan
    val peeled =
      if (joined) decomposeJoined(opt).map { case (m, fs, (l, r, a, b)) =>
        (m, fs.flatMap(splitConjuncts).filterNot(impliedByJoin(_, nameNorm(a), nameNorm(b))),
          Seq(l, r))
      }
      else decompose(opt).map { case (m, fs, l) => (m, fs, Seq(l)) }
    val (aliases, filters, rels) = peeled.getOrElse(throw new IllegalArgumentException(
      s"$what: definition must be a bare " +
        (if (joined) "INNER equi-join of two file scans" else "file scan (+ projections)") +
        s", got:\n$opt"))
    require(filters.isEmpty,
      s"$what: a FILTERED definition cannot answer whole-table questions: $filters")
    val scans = rels.map(r => ScanId.of(r).getOrElse(
      throw new IllegalArgumentException(s"$what: scan is not a file relation")))
    Probe(rels, scans, opt.output.map(a => aliases.getOrElse(a.exprId, a)))
  }

  /** Probe columns for a definition's grouping keys, `__graft_k<i>`. */
  def keyCols(keys: Seq[(Column, String)]): Seq[Column] =
    keys.zipWithIndex.map { case ((c, _), i) => c.as(s"__graft_k$i") }

  /** The registered keys: stored names paired with the probe's canons. */
  def mvKeys(keys: Seq[(Column, String)], p: Probe): Seq[MvKey] =
    keys.map(_._2).zip(p.canon).map { case (n, c) => MvKey(n, c) }

  /** The stored artifact at `path`: its frame and its file relation. */
  def artifact(spark: SparkSession, what: String, path: String): (DataFrame, LogicalRelation) = {
    val df = Ingest.parquet(spark, path)
    (df, df.queryExecution.analyzed.collectFirst { case l: LogicalRelation => l }
      .getOrElse(throw new IllegalStateException(s"$what: $path is not a file scan")))
  }

  /** Rebuild the artifact at `path` and register it. Every definition
    * stored AT this path is dropped first: were one left registered
    * and the build's own aggregate matched it, the rewrite would make
    * the build READ the file it is about to overwrite.
    */
  def rebuild(path: String, build: => DataFrame)(register: => Unit): Unit = {
    store.values.removeIf {
      case d: StoredDef => d.mvPath == path
      case _ => false
    }
    build.write.mode("overwrite").parquet(path)
    register
  }

  /** The one metastore load loop: read a saved definition table, sort
    * by name, parse each row's fact paths and keys (canonical SQL
    * text, re-parsed with `expr`), and hand them to `register`, which
    * replays the FULL registration. Additive: the catalog is not
    * cleared first, like reading one metastore database into a
    * session.
    */
  def load(spark: SparkSession, path: String)(
      register: (Row, DataFrame, Seq[(Column, String)]) => Unit): Unit =
    Ingest.parquet(spark, path).collect().sortBy(_.getAs[String]("name")).foreach { r =>
      val keys = strs(r, "key_names").zip(strs(r, "key_sqls")).map { case (n, sql) => expr(sql) -> n }
      register(r, Ingest.parquet(spark, strs(r, "fact_paths"): _*), keys)
    }

  def strs(r: Row, c: String): Seq[String] = r.getAs[scala.collection.Seq[String]](c).toSeq

  /** All file-scan root paths in a plan — for plan guards asserting
    * which tables a rewritten query actually reads.
    */
  def scanPaths(plan: LogicalPlan): Set[String] =
    plan.collect { case lr: LogicalRelation => ScanId.of(lr).map(_.paths).getOrElse(Set.empty) }
      .flatten.toSet

  /** (alias-inline map to relation attributes, filters inlined to
    * relation attributes, leaf) */
  type Peeled[L] = (Map[ExprId, Expression], Seq[Expression], L)

  /** Peel projections (of attributes/aliases), filters and subquery
    * aliases off a plan down to what `leaf` accepts, child-first so
    * alias chains inline against the deeper map. None if anything else
    * sits in between or `leaf` refuses.
    */
  def peel[L](p: LogicalPlan)(leaf: LogicalPlan => Option[Peeled[L]]): Option[Peeled[L]] =
    p match {
      case SubqueryAlias(_, c) => peel(c)(leaf)
      case Project(pl, c) if pl.forall(e => e.isInstanceOf[AttributeReference] || e.isInstanceOf[Alias]) =>
        peel(c)(leaf).map { case (m, fs, l) =>
          (m ++ pl.collect { case a: Alias => a.exprId -> inline(a.child, m) }, fs, l)
        }
      case Filter(cond, c) => peel(c)(leaf).map { case (m, fs, l) => (m, fs :+ inline(cond, m), l) }
      case _ => leaf(p)
    }

  /** A plan peeled down to its file scan. */
  def decompose(p: LogicalPlan): Option[Peeled[LogicalRelation]] =
    peel(p) {
      case lr: LogicalRelation => Some((Map.empty, Nil, lr))
      case _ => None
    }

  /** A plan peeled down to an INNER equi-join of two peeled file scans:
    * (left relation, right relation, left join key, right join key),
    * filters from above and inside both sides. None for any other
    * shape — outer joins change row multiplicity, multi-condition
    * joins are not what was registered, and anything non-decomposable
    * on a side hides unknown semantics.
    */
  def decomposeJoined(p: LogicalPlan)
      : Option[Peeled[(LogicalRelation, LogicalRelation, Expression, Expression)]] =
    peel(p) {
      case Join(l, r, Inner, Some(cond), _) =>
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
        } yield (mAll, fL ++ fR, (lrL, lrR, eq._1, eq._2))
      case _ => None
    }

  def inline(e: Expression, m: Map[ExprId, Expression]): Expression =
    if (m.isEmpty) e
    else e.transformUp {
      case a: AttributeReference if m.contains(a.exprId) => m(a.exprId)
    }

  def splitConjuncts(f: Expression): Seq[Expression] = f match {
    case And(a, b) => splitConjuncts(a) ++ splitConjuncts(b)
    case other => Seq(other)
  }

  def traverse[T](xs: Seq[Option[T]]): Option[Seq[T]] =
    if (xs.forall(_.isDefined)) Some(xs.map(_.get)) else None

  /** True for the filters an inner equi-join makes tautological on
    * its own rows: IsNotNull of either join key (the optimizer infers
    * and pushes these; a joined MV's rows satisfy them by
    * construction).
    */
  def impliedByJoin(f: Expression, fkCanon: Expression, dkCanon: Expression): Boolean = f match {
    case IsNotNull(c) =>
      val n = nameNorm(c)
      n.semanticEquals(fkCanon) || n.semanticEquals(dkCanon)
    case _ => false
  }

  /** Column names two scans share. Canonical matching is by NAME, so a
    * name present in both would make a proof over the pair ambiguous.
    */
  def sharedNames(a: LogicalRelation, b: LogicalRelation): Set[String] = {
    def names(r: LogicalRelation) = r.output.map(_.name.toLowerCase(Locale.ROOT)).toSet
    names(a).intersect(names(b))
  }

  /** Canonical compare modulo attribute identity: expressions are
    * equal when their trees match with attributes compared by
    * lower-cased NAME only (exprIds zeroed, nullability erased) —
    * the registration-time probe and the user query resolve the same
    * parquet columns to different exprIds by construction.
    */
  def nameNorm(e: Expression): Expression = e.transformUp {
    case a: AttributeReference =>
      AttributeReference(a.name.toLowerCase(Locale.ROOT), a.dataType, nullable = true)(
        ExprId(0), Nil)
  }
}

/** Registry of materialized aggregates for [[MvRewriteRule]].
  *
  * `create` materializes the rollup (one fact scan, paid once — the
  * same bootstrap cost [[graft.ops.Materialize]] documents) and
  * registers its definition. A definition is point-in-time: it
  * snapshots the fact's (and a joined MV's dim's) files, and a scan
  * whose files drifted after registration disqualifies the rewrite
  * instead of serving a stale rollup. A standing MV kept fresh by
  * [[graft.ops.Materialize.refreshInto]] (delta-only, history never
  * rescanned) is therefore re-registered after each refresh, against
  * the files the refreshed rollup covers.
  */
object MvCatalog {

  private val defs = new DefCatalog.Kind[MvDef]("mv")

  /** `df` rolled up by `keys` on `metric`: the stored artifact. */
  private def rollupOf(df: DataFrame, keys: Seq[(Column, String)], metric: Column): DataFrame =
    Materialize.rollup(
      df.select(keys.map { case (c, n) => c.as(n) } :+ metric.as("__graft_mv_m"): _*),
      keys.map(_._2), col("__graft_mv_m"))

  /** Materialize `fact.groupBy(keys…).agg(count, sum, min, max of
    * metric-as-long)` at `path` and register it for rewriting. Queries
    * may group on any subset of the keys (see [[MvRewriteRule]]).
    */
  def create(
      spark: SparkSession,
      name: String,
      fact: DataFrame,
      keys: Seq[(Column, String)],
      metric: Column,
      path: String): Unit =
    DefCatalog.rebuild(path, rollupOf(fact, keys, metric)) {
      register(spark, name, fact, keys, metric, path)
    }

  /** Register an ALREADY-materialized rollup (e.g. one maintained
    * incrementally by [[graft.ops.Materialize.refreshInto]]). The fact
    * plan must be a bare file scan plus projections — a filtered or
    * joined definition would make the whole-table equality the rewrite
    * relies on unsound, so it is rejected here. Key order is the
    * stored rollup's column order; matching is by canonical
    * expression, so query-side grouping order is free.
    */
  def register(
      spark: SparkSession,
      name: String,
      fact: DataFrame,
      keys: Seq[(Column, String)],
      metric: Column,
      path: String): Unit = {
    require(keys.nonEmpty, s"MV '$name': at least one grouping key required")
    val what = s"MV '$name'"
    val p = DefCatalog.probe(what,
      fact.select(DefCatalog.keyCols(keys) :+ metric.cast("long").as("__graft_mv_m"): _*))
    defs.put(MvDef(name, p.scans.head, DefCatalog.mvKeys(keys, p), p.canon.last,
      path, DefCatalog.artifact(spark, what, path)._2))
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
      path: String): Unit =
    DefCatalog.rebuild(path, rollupOf(fact.join(dim, factKey === dimKey), keys, metric)) {
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
    val what = s"MV '$name'"
    val p = DefCatalog.probe(what,
      fact.join(dim, factKey === dimKey).select(DefCatalog.keyCols(keys) ++
        Seq(metric.cast("long").as("__graft_mv_m"), factKey.as("__graft_mv_fk"),
          dimKey.as("__graft_mv_dk")): _*),
      joined = true)
    val Seq(metricCanon, fkCanon, dkCanon) = p.canon.takeRight(3)
    // orient the two scans: the one the fact key resolves against is
    // the fact side (the optimizer does not reorder a bare 2-table
    // join, but the registration must not depend on that)
    val fkRefs = p.defs(keys.size + 1).references
    val (f, d) = p.rels.indexWhere(r => fkRefs.subsetOf(r.outputSet)) match {
      case 0 => (0, 1)
      case 1 => (1, 0)
      case _ => throw new IllegalArgumentException(
        s"$what: fact join key must come from one side of the join")
    }
    val shared = DefCatalog.sharedNames(p.rels(f), p.rels(d))
    require(shared.isEmpty, s"$what: fact and dim scans share column names $shared — unsupported")
    defs.put(MvDef(name, p.scans(f), DefCatalog.mvKeys(keys, p), metricCanon,
      path, DefCatalog.artifact(spark, what, path)._2,
      join = Some(MvJoin(p.scans(d), fkCanon, dkCanon))))
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
        (d.name, d.fact.paths.toSeq.sorted, d.keys.map(_.name), d.keys.map(_.canon.sql),
          d.metricCanon.sql, d.mvPath,
          d.join.map(_.dim.paths.toSeq.sorted).getOrElse(Seq.empty[String]),
          d.join.map(_.factKeyCanon.sql).getOrElse(""),
          d.join.map(_.dimKeyCanon.sql).getOrElse(""))
      }
      .toDF("name", "fact_paths", "key_names", "key_sqls", "metric_sql",
        "mv_path", "dim_paths", "fk_sql", "dk_sql")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Re-register every definition saved by [[save]]. Idempotent:
    * re-putting a live definition overwrites it with an equal one, and
    * the stored rollup artifacts are NOT rebuilt. The re-registration
    * snapshots the scans' files as they stand at load.
    */
  def load(spark: SparkSession, path: String): Unit =
    DefCatalog.load(spark, path) { (r, fact, keys) =>
      val name = r.getAs[String]("name")
      val metric = expr(r.getAs[String]("metric_sql"))
      val dims = DefCatalog.strs(r, "dim_paths")
      if (dims.isEmpty)
        register(spark, name, fact, keys, metric, r.getAs[String]("mv_path"))
      else
        registerJoined(spark, name, fact, Ingest.parquet(spark, dims: _*),
          expr(r.getAs[String]("fk_sql")), expr(r.getAs[String]("dk_sql")),
          keys, metric, r.getAs[String]("mv_path"))
    }

  def unregister(name: String): Unit = defs.remove(name)
  def isEmpty: Boolean = defs.isEmpty
  private[plans] def all: Iterable[MvDef] = defs.all
}

/** Registry of NDV-sketch rollups for [[MvRewriteRule]]'s
  * count-DISTINCT leg; the rewrite stays opt-in per session under the
  * same [[MvRewriteRule.EnabledKey]].
  *
  * Both kinds of artifact share ONE exactness proof, which is the
  * rewrite's own contract: per key group, over the exact group
  * universe, the stored count (`size(hs)` for the KMV kind,
  * `bitmap_card(bm)` for the bitmap kind) equals the fact's
  * `count(DISTINCT id)`, and the artifact holds exactly one row for
  * each key the fact holds and none for any other. At the exact grain
  * the rewrite sums one stored count per group, so this is precisely
  * when it answers right. It also covers what the KMV sketch needs: a
  * saturated group, or one with a hash collision, stores fewer hashes
  * than it has ids and fails the proof. A registered bitmap artifact
  * is also checked id by id, since a coarser grouping unions its sets
  * (see [[proof]]); a built one holds the fact's own ids.
  *
  * The proof runs once per registration. `create*` evaluates it as an
  * observation on the build's own write: the definition's fact
  * snapshot comes from the same frame, so it names exactly the files
  * the build read. `register*`, and so every metastore [[load]],
  * evaluates it as one join-free aggregate over fact ∪ artifact. A
  * failed proof registers with `exactOk = false`: the definition is
  * visible (a law test can see that it refuses) but never rewrites.
  */
object NdvCatalog {
  import org.apache.spark.sql.functions.{array, count, countDistinct, lit, size, sum, when}

  private val defs = new DefCatalog.Kind[NdvDef]("ndv")
  private val Id = "__graft_ndv_id"

  /** The artifact's stored column, by kind. */
  private def setCol(kind: String): String = if (kind == "bitmap") "bm" else "hs"

  /** What the rewrite sums per artifact row, by kind. */
  private def stored(kind: String): Column =
    if (kind == "bitmap") Materialize.bitmapCard(col("bm")) else size(col("hs")).cast("long")

  /** Materialize `ndvSketchExact(fact, keys, id, k)` at `path` and
    * register it, proven on the build's write: one fact scan in all.
    */
  def create(
      spark: SparkSession,
      name: String,
      fact: DataFrame,
      keys: Seq[(Column, String)],
      id: Column,
      k: Int,
      path: String): Unit =
    build(spark, name, fact, keys, id, k, "kmv", path)(
      Materialize.ndvSketchExact(_, keys.map(_._2), Id, k, _))

  /** Register an ALREADY-materialized exact-NDV sketch, proving it
    * against the fact as it stands now (see [[NdvCatalog]]): an
    * artifact that does not match the fact — a foreign one, or one
    * whose fact drifted before a re-register or a metastore reload
    * snapshotted today's files — registers with `exactOk = false`. The fact's concrete file list is snapshotted;
    * any later append or compaction under the same directory
    * disqualifies until a re-registration proves it again.
    */
  def register(
      spark: SparkSession,
      name: String,
      fact: DataFrame,
      keys: Seq[(Column, String)],
      id: Column,
      k: Int,
      path: String): Unit =
    define(spark, name, fact, keys, id, k, "kmv", path)(proof("kmv"))

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
      path: String): Unit =
    build(spark, name, fact, keys, id, 0, "bitmap", path)(
      Materialize.bitmapSketch(_, keys.map(_._2), Id, _))

  /** Register an ALREADY-materialized bitmap NDV artifact under the
    * same proof as [[register]]. Ids must be integral
    * ([[graft.ops.Materialize.bitmapSketch]] enforces it at build;
    * re-checked here because registration accepts foreign artifacts).
    */
  def registerBitmap(
      spark: SparkSession,
      name: String,
      fact: DataFrame,
      keys: Seq[(Column, String)],
      id: Column,
      path: String): Unit =
    define(spark, name, fact, keys, id, 0, "bitmap", path)(proof("bitmap"))

  /** Build the artifact with each group's distinct id count beside it,
    * observe the proof on those rows as they are written, and register
    * with its verdict. The build's groupBy makes one row per fact key.
    */
  private def build(
      spark: SparkSession, name: String, fact: DataFrame, keys: Seq[(Column, String)],
      id: Column, k: Int, kind: String, path: String)(
      sketch: (DataFrame, Option[String]) => DataFrame): Unit = {
    val proven = org.apache.spark.sql.Observation()
    DefCatalog.rebuild(path,
      sketch(fact.select(keys.map { case (c, n) => c.as(n) } :+ id.as(Id): _*), Some("__graft_ndv_d"))
        .observe(proven, count(when(!(stored(kind) <=> col("__graft_ndv_d")), 1)).as("bad"))
        .drop("__graft_ndv_d")) {
      define(spark, name, fact, keys, id, k, kind, path)((_, _) => proven.get("bad") == 0L)
    }
  }

  /** Probe the definition and store it with the verdict `exact` gives
    * for (the probe, the artifact's keys and stored column).
    */
  private def define(
      spark: SparkSession, name: String, fact: DataFrame, keys: Seq[(Column, String)],
      id: Column, k: Int, kind: String, path: String)(
      exact: (DataFrame, DataFrame) => Boolean): Unit = {
    require(keys.nonEmpty, s"NDV MV '$name': at least one grouping key required")
    val what = s"NDV MV '$name'"
    val probe = fact.select(DefCatalog.keyCols(keys) :+ id.as(Id): _*)
    val p = DefCatalog.probe(what, probe)
    require(kind != "bitmap" ||
      Seq("tinyint", "smallint", "int", "bigint").contains(p.defs.last.dataType.simpleString),
      s"$what: bitmap artifacts store ids exactly; id must be integral")
    val (artifact, mvRel) = DefCatalog.artifact(spark, what, path)
    val ok = exact(probe, artifact.select(keys.map(k => col(k._2)) :+ col(setCol(kind)): _*))
    defs.put(NdvDef(name, p.scans.head, DefCatalog.mvKeys(keys, p), p.canon.last,
      k, exactOk = ok, path, mvRel, kind))
  }

  /** The proof over stored rows: fact rows and artifact rows in one
    * union, grouped by key (a NULL key groups like any other), one
    * verdict per group, folded to one. `probe` is (keys…, id),
    * `artifact` is (keys…, stored column), by position.
    *
    * A bitmap artifact stores the ids themselves, and a coarser
    * grouping unions them, so for that kind the proof also checks the
    * ids: with A the stored set and F the fact's non-null ids (each a
    * singleton set in the union), card(A ∪ F) = card(A) = |F|, which
    * holds exactly when A = F.
    */
  private def proof(kind: String)(probe: DataFrame, artifact: DataFrame): Boolean = {
    val keyNames = probe.columns.toSeq.init
    def ids(set: => Column): Seq[Column] = if (kind == "bitmap") Seq(set.as("ids")) else Nil
    val fromFact = probe.select(keyNames.map(col) ++
      Seq(col(Id), lit(null).cast("long").as("st"), lit(false).as("art")) ++
      ids(when(col(Id).isNotNull, Materialize.bitmapOf(array(col(Id).cast("long"))))): _*)
    val fromArtifact = artifact.toDF(keyNames :+ setCol(kind): _*).select(keyNames.map(col) ++
      Seq(lit(null).cast(probe.schema(Id).dataType).as(Id), stored(kind).as("st"),
        lit(true).as("art")) ++ ids(col("bm")): _*)
    val groups = fromFact.union(fromArtifact).groupBy(keyNames.map(col): _*)
      .agg(countDistinct(col(Id)).as("d"), (Seq(sum(col("st")).as("st"),
        count(when(col("art"), 1)).as("a"), count(when(!col("art"), 1)).as("f")) ++
        ids(Materialize.bitmapCard(Materialize.bitmapUnionAgg(col("ids"))))): _*)
    val sameIds = if (kind == "bitmap") col("ids") <=> col("st") else lit(true)
    groups
      .agg(count(when(!(col("a") === 1 && col("f") > 0 && (col("st") <=> col("d")) && sameIds), 1)))
      .head().getLong(0) == 0L
  }

  /** Persist every registered NDV definition to a parquet "metastore"
    * table ([[MvCatalog.save]]'s recipe): canonical key/id expressions
    * as SQL text, kind, k and artifact path alongside. [[load]]
    * replays the FULL registration — the proof and a fresh fact-file
    * snapshot — so a definition whose fact drifted while the JVM was
    * down re-registers against today's files and re-proves (or
    * refuses) exactness, never trusts yesterday's.
    */
  def save(spark: SparkSession, path: String): Unit = {
    val sp = spark
    import sp.implicits._
    all.toSeq.sortBy(_.name)
      .map { d =>
        (d.name, d.fact.paths.toSeq.sorted, d.keys.map(_.name),
          d.keys.map(_.canon.sql), d.idCanon.sql, d.k, d.mvPath, d.kind)
      }
      .toDF("name", "fact_paths", "key_names", "key_sqls", "id_sql", "k", "mv_path", "kind")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Re-register every definition saved by [[save]]. Additive and
    * idempotent, like [[MvCatalog.load]]; each definition's one proof
    * runs again — that is the point, see [[save]].
    */
  def load(spark: SparkSession, path: String): Unit =
    DefCatalog.load(spark, path) { (r, fact, keys) =>
      val (name, id, mvPath) =
        (r.getAs[String]("name"), expr(r.getAs[String]("id_sql")), r.getAs[String]("mv_path"))
      if (r.getAs[String]("kind") == "bitmap") registerBitmap(spark, name, fact, keys, id, mvPath)
      else register(spark, name, fact, keys, id, r.getAs[Int]("k"), mvPath)
    }

  def unregister(name: String): Unit = defs.remove(name)
  def isEmpty: Boolean = defs.isEmpty
  private[plans] def all: Iterable[NdvDef] = defs.all
}

/** Registry of foreign-key and unique-key constraints for
  * [[JoinEliminationRule]].
  *
  * `register` VALIDATES the constraint with three one-time jobs
  * (null child keys, orphan child keys, duplicate parent keys — the
  * p13 referential-integrity checks repurposed as a gate) before
  * trusting it; a violated declaration is refused loudly. Warehouse
  * engines also ship RELY constraints that skip the validation on the
  * user's word; this catalog does not — a constraint is trusted only
  * over the files it was validated on. The REWRITE stays opt-in per
  * session ([[JoinEliminationRule.EnabledKey]]).
  */
object FkCatalog {

  private val fks = new DefCatalog.Kind[FkDef]("fk")
  private val uniques = new DefCatalog.Kind[UniqueDef]("unique")

  def register(
      spark: SparkSession,
      name: String,
      child: DataFrame,
      childKey: Column,
      parent: DataFrame,
      parentKey: Column): Unit = {
    val cProbe = child.select(childKey.as("__fk_ck"))
    val pProbe = parent.select(parentKey.as("__fk_pk"))
    val c = DefCatalog.probe(s"FK '$name' child", cProbe)
    val p = DefCatalog.probe(s"FK '$name' parent", pProbe)
    import org.apache.spark.sql.functions.{count, lit}
    val nulls = cProbe.filter(col("__fk_ck").isNull).limit(1).count()
    require(nulls == 0, s"FK '$name' violated: child key has NULLs")
    val orphans = cProbe
      .join(pProbe, col("__fk_ck") === col("__fk_pk"), "left_anti")
      .limit(1).count()
    require(orphans == 0, s"FK '$name' violated: child keys without a parent row")
    val dups = pProbe.groupBy(col("__fk_pk")).agg(count(lit(1)).as("n"))
      .filter(col("n") > 1).limit(1).count()
    require(dups == 0, s"FK '$name' violated: parent key is not unique")
    fks.put(FkDef(name, c.scans.head, p.scans.head, c.canon.head, p.canon.head))
  }

  def unregister(name: String): Unit = fks.remove(name)
  def isEmpty: Boolean = fks.isEmpty && uniques.isEmpty
  private[plans] def all: Iterable[FkDef] = fks.all

  /** Register and validate a unique key on a table — the standalone
    * half of the FK machinery, consumed by [[JoinEliminationRule]]'s
    * DISTINCT elimination: a dropDuplicates whose key set contains a
    * unique key is a no-op. `nonNull` declares the key PRIMARY (unique
    * AND non-null), proven by one extra probe; only nonNull
    * definitions feed the FD group-by prune.
    */
  def registerUnique(
      spark: SparkSession,
      name: String,
      table: DataFrame,
      key: Column,
      nonNull: Boolean = false): Unit = {
    val probe = table.select(key.as("__uq_k"))
    val p = DefCatalog.probe(s"UNIQUE '$name'", probe)
    import org.apache.spark.sql.functions.{count, lit}
    val dups = probe.groupBy(col("__uq_k")).agg(count(lit(1)).as("n"))
      .filter(col("n") > 1).limit(1).count()
    require(dups == 0, s"UNIQUE '$name' violated: key has duplicates")
    if (nonNull) {
      val nulls = probe.filter(col("__uq_k").isNull).limit(1).count()
      require(nulls == 0, s"PRIMARY '$name' violated: key has NULLs")
    }
    uniques.put(UniqueDef(name, p.scans.head, p.canon.head, nonNull))
  }

  def unregisterUnique(name: String): Unit = uniques.remove(name)
  private[plans] def allUniques: Iterable[UniqueDef] = uniques.all
}
