package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.types.DoubleType

import DefCatalog.{decompose, decomposeJoined, impliedByJoin, inline, nameNorm, splitConjuncts, traverse}

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
  * MV was defined on — same root paths AND the same files as at
  * registration ([[ScanId]]) — or, for a JOINED MV, to the exact INNER
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
object MvRewriteRule extends Rule[LogicalPlan] {

  val EnabledKey = "spark.graft.mv.enabled"

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
      // several MVs can share a fact table (different keys/metrics):
      // prove each candidate, then take the CHEAPEST proof. A JOINED
      // MV must never answer a bare fact aggregate — its rows are
      // post-join (inner-join drops unmatched fact rows).
      out <- cheapest(
        MvCatalog.all.filter(d => d.join.isEmpty && d.fact.sameScan(rel))
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
      (aliases, filters, (lrA, lrB, kA, kB)) <- decomposeJoined(agg.child)
      // canonical matching is by name — bail out if the two scans
      // share any column name (same guard as registration)
      if DefCatalog.sharedNames(lrA, lrB).isEmpty
      kAc = nameNorm(inline(kA, aliases))
      kBc = nameNorm(inline(kB, aliases))
      out <- cheapest(MvCatalog.all.toSeq.sortBy(_.name).flatMap { mv =>
        mv.join match {
          case Some(j)
              // the registered (fact, dim, fk, dk) quadruple, in
              // either left/right orientation of the query's join
              if ((mv.fact.sameScan(lrA) && j.dim.sameScan(lrB)) ||
                (mv.fact.sameScan(lrB) && j.dim.sameScan(lrA))) &&
                ((kAc.semanticEquals(j.factKeyCanon) && kBc.semanticEquals(j.dimKeyCanon)) ||
                  (kAc.semanticEquals(j.dimKeyCanon) && kBc.semanticEquals(j.factKeyCanon))) =>
            // split AND-trees first: a user key-filter arrives fused
            // with the inferred IsNotNull(join key) in one conjunction
            val residual = filters.flatMap(splitConjuncts)
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
    * definition's exactness proof is LIVE: `exactOk` (one stored row
    * per group whose count equals the group's count(DISTINCT id),
    * proven at registration) AND the fact scan still holds exactly the
    * proven files. The grouping must cover
    * the registered key tuple EXACTLY — coarsening a count-distinct
    * needs the union of per-group id sets, not a sum, so a subset
    * grouping is not provable from per-group sizes and disqualifies.
    * Key-only filters push onto the sketch exactly as in
    * [[tryRewrite]] (a key predicate selects whole sketch rows).
    */
  private def rewriteNdv(agg: Aggregate): Option[Aggregate] =
    for {
      (aliases, filters, rel) <- decompose(agg.child)
      out <- NdvCatalog.all
        .filter(d => d.exactOk && d.fact.sameScan(rel))
        .toSeq.sortBy(_.name)
        .flatMap(d => tryNdvRewrite(agg, aliases, filters, d))
        .headOption
    } yield out

  private def aggLike(fn: AggregateFunction, like: AggregateExpression): AggregateExpression =
    AggregateExpression(fn, like.mode, isDistinct = false)

  private def tryNdvRewrite(
      agg: Aggregate,
      aliases: Map[ExprId, Expression],
      filters: Seq[Expression],
      mv: NdvDef): Option[Aggregate] = {
    def isId(e: Expression): Boolean =
      nameNorm(inline(e, aliases)).semanticEquals(mv.idCanon)
    substitute(agg, aliases, filters, mv.keys, mv.mv) { (mvAttr, gIdx) =>
      val exactGrain = gIdx.toSet == mv.keys.indices.toSet
      // the KMV-exact artifact is grain-LOCKED: per-group sizes cannot
      // answer a coarser grouping (ids shared across groups would
      // double-count). The bitmap artifact is a true lattice node — the
      // id SETS union losslessly — so any key SUBSET (including the
      // global aggregate) coarsens by re-aggregating with
      // graft_bitmap_union_agg and counting the union.
      if (!exactGrain && mv.kind != "bitmap") None
      else mvAttr(if (mv.kind == "bitmap") "bm" else "hs").map { hsA => (ae: AggregateExpression) =>
        // count(DISTINCT id) → sum(size(hs)) for the KMV-exact artifact,
        // sum(bitmap_card(bm)) for the bitmap one: at the EXACT grain
        // each group is exactly one sketch row, so the Sum is a
        // 1-row-group reduce — cast to LONG where needed to keep
        // Count's output type bit-for-bit. COARSENED (bitmap only,
        // gated above): the group's sketch rows re-aggregate by set
        // union and the count reads off the union — still exact,
        // because the union dedups the ids the per-group counts would
        // double-count.
        ae.aggregateFunction match {
          case Count(Seq(c)) if ae.isDistinct && ae.filter.isEmpty && isId(c) =>
            if (!exactGrain)
              Some(graft.functions.BitmapCard(aggLike(graft.functions.BitmapUnionAgg(hsA), ae)))
            else {
              val perGroup =
                if (mv.kind == "bitmap") graft.functions.BitmapCard(hsA)
                else Cast(Size(hsA, legacySizeOfNull = false),
                  org.apache.spark.sql.types.LongType)
              Some(aggLike(Sum(perGroup), ae))
            }
          case _ => None
        }
      }
    }
  }

  private def tryRewrite(
      agg: Aggregate,
      aliases: Map[ExprId, Expression],
      filters: Seq[Expression],
      mv: MvDef): Option[Aggregate] = {
    def isMetric(e: Expression): Boolean =
      nameNorm(inline(e, aliases)).semanticEquals(mv.metricCanon)
    substitute(agg, aliases, filters, mv.keys, mv.mv) { (mvAttr, _) =>
      for {
        nA <- mvAttr("n")
        sumA <- mvAttr("sum_m")
        minA <- mvAttr("min_m")
        maxA <- mvAttr("max_m")
      } yield {
        // optional non-null metric count (rollups built before the n_m
        // column simply don't offer count(metric)/avg(metric) derivation)
        val nmA = mvAttr("n_m")
        // count(*)/count(metric) derive as sums of stored counts, but
        // sum-over-empty is NULL where count-over-empty is 0 — reachable
        // only for a GLOBAL aggregate (no grouping: a pushed key filter
        // matching no rollup rows, or an empty fact, still yields one
        // output row). Grouped rewrites never see an empty group, so the
        // coalesce is confined to the global case to keep the grouped
        // plan untouched.
        def countDerive(src: Attribute, ae: AggregateExpression): Expression = {
          val s = aggLike(Sum(src), ae)
          if (agg.groupingExpressions.isEmpty) Coalesce(Seq(s, Literal(0L))) else s
        }
        (ae: AggregateExpression) =>
          if (ae.isDistinct || ae.filter.nonEmpty) None
          else ae.aggregateFunction match {
            case Count(Seq(l: Literal)) if l.value != null => Some(countDerive(nA, ae))
            // count(metric) — non-null count — is exactly the stored n_m
            case Count(Seq(c)) if isMetric(c) && nmA.isDefined =>
              Some(countDerive(nmA.get, ae))
            case s: Sum if isMetric(s.child) => Some(aggLike(Sum(sumA), ae))
            case m: Min if isMetric(m.child) => Some(aggLike(Min(minA), ae))
            case m: Max if isMetric(m.child) => Some(aggLike(Max(maxA), ae))
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
                Cast(aggLike(Sum(sumA), ae), DoubleType),
                Cast(aggLike(Sum(nmA.get), ae), DoubleType),
                EvalMode.LEGACY))
            case _ => None
          }
      }
    }
  }

  /** The one aggregate-substitution skeleton both legs share: answer
    * `agg` from the stored artifact `stored` whose key columns are
    * `keys`, or None. Every grouping expression must match a DISTINCT
    * registered key; a strict subset (or none at all — a global
    * aggregate) COARSENS when the leg's `derive` allows it.
    * groupBy(expr.as("x")) analyzes to an Alias in the grouping list;
    * it is unwrapped for the match and its id remembered — the
    * aggregate's key OUTPUTS are AttributeReferences to those aliases.
    * Filters: every occurrence of ANY registered key expression becomes
    * the artifact's key column — a key predicate selects whole stored
    * groups, so it commutes with the (possibly coarser) re-aggregation
    * even when that key is not grouped on; anything still referencing
    * a fact column afterwards disqualifies the rewrite. `derive` gets
    * the fresh relation's column lookup and the matched key indices
    * and returns the leg's per-aggregate derivation, or None to refuse.
    */
  private def substitute(
      agg: Aggregate,
      aliases: Map[ExprId, Expression],
      filters: Seq[Expression],
      keys: Seq[MvKey],
      stored: LogicalRelation)(
      derive: (String => Option[Attribute], Seq[Int]) =>
        Option[AggregateExpression => Option[Expression]]): Option[Aggregate] = {
    // Index of the registered key a query-side expression defines, if
    // any (canonical compare modulo attribute identity).
    def keyIdx(e: Expression): Option[Int] = {
      val n = nameNorm(inline(e, aliases))
      Some(keys.indexWhere(k => n.semanticEquals(k.canon))).filter(_ >= 0)
    }
    val gMatched: Seq[(Option[Int], Option[ExprId])] = agg.groupingExpressions.map {
      case al: Alias => (keyIdx(al.child), Some(al.exprId))
      case a: Attribute => (keyIdx(a), Some(a.exprId))
      case e => (keyIdx(e), None)
    }
    val gIdx = gMatched.flatMap(_._1)
    if (gIdx.size != gMatched.size || gIdx.distinct.size != gIdx.size) return None
    val idToIdx: Map[ExprId, Int] =
      gMatched.collect { case (Some(i), Some(id)) => id -> i }.toMap
    // An output attribute standing for a grouped key, by grouping
    // alias id or by canonical match.
    def attrKeyIdx(a: AttributeReference): Option[Int] =
      idToIdx.get(a.exprId).orElse(keyIdx(a))

    // Fresh relation instance per rewrite: exprIds must not collide if
    // two rewrites land in one query tree.
    val mvRel = stored.newInstance().asInstanceOf[LogicalRelation]
    def mvAttr(n: String): Option[Attribute] =
      mvRel.output.find(_.name.equalsIgnoreCase(n))
    for {
      kAs <- traverse(keys.map(k => mvAttr(k.name)))
      deriveAgg <- derive(mvAttr, gIdx)
      fRews = filters.map(_.transformUp {
        case e if keyIdx(e).exists(i => e.dataType == kAs(i).dataType) =>
          kAs(keyIdx(e).get)
      })
      if fRews.forall(_.references.subsetOf(AttributeSet(kAs)))
      newAggExprs <- traverse(agg.aggregateExpressions.map {
        case a: AttributeReference if attrKeyIdx(a).isDefined =>
          Some(Alias(kAs(attrKeyIdx(a).get), a.name)(exprId = a.exprId))
        case al @ Alias(ae: AggregateExpression, name) =>
          deriveAgg(ae).map(e => Alias(e, name)(exprId = al.exprId))
        case al @ Alias(a: AttributeReference, name) if attrKeyIdx(a).isDefined =>
          Some(Alias(kAs(attrKeyIdx(a).get), name)(exprId = al.exprId))
        case al @ Alias(other, name) if keyIdx(other).exists(gIdx.contains) =>
          Some(Alias(kAs(keyIdx(other).get), name)(exprId = al.exprId))
        case _ => None
      })
      // Paranoia: the substituted output must be type-identical —
      // a dataType drift here would corrupt downstream codegen.
      if newAggExprs.map(_.dataType) == agg.aggregateExpressions.map(_.dataType)
    } yield Aggregate(gIdx.map(kAs), newAggExprs,
      fRews.foldLeft(mvRel: LogicalPlan)((p, f) => Filter(f, p)))
  }
}
