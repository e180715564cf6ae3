package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate
import org.apache.spark.sql.catalyst.plans.{Inner, LeftOuter}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.LogicalRelation

import DefCatalog.{decompose, inline, nameNorm, splitConjuncts, traverse}

/** Optimizer rule: JOIN ELIMINATION on validated foreign keys — the
  * classic warehouse rewrite (Calcite/Oracle/Snowflake ship it on
  * RELY constraints). An inner equi-join `child ⋈ parent ON ck = pk`
  * under a registered [[FkDef]] preserves child rows exactly 1:1
  * (ck NOT NULL → no child row is dropped; pk unique → no child row
  * is duplicated), so when every expression ABOVE the join references
  * only child-side columns the parent scan and the join are dead
  * weight and are removed. At 100 TB this deletes the largest shuffle
  * in star-schema queries generated by BI tools, which join every
  * dimension whether the query uses it or not.
  *
  * Conservative by the MV-tier's discipline: the join sides must
  * decompose to the EXACT registered file scans, the condition must
  * be the registered key pair (either orientation; canonical compare
  * modulo attribute identity), the parent side may carry no residual
  * filter beyond the join-implied IsNotNull of its key, and the
  * parent relation's attributes must not leak into anything above —
  * with ONE exception: references to the parent's join KEY itself
  * rewrite to the child key (equal on every retained row, both
  * non-null under the constraint), which covers the ubiquitous
  * `GROUP BY parent_pk` star query.
  * Matched shapes: Project-over-Join and Aggregate-over-Join (the two
  * forms Catalyst's column pruning leaves after optimization). The
  * kept side need not be a bare scan: any tree of INNER joins /
  * projections / filters over file scans qualifies (see
  * `decomposeInnerTree`), so SNOWFLAKE CHAINS collapse to the bare
  * fact — each elimination's survivor is the next one's keep-tree,
  * and the fixed-point optimizer batch re-applies the rule until no
  * join matches (j21). For LEFT joins the keep side may be anything
  * at all, so stacked defensive LEFT joins peel off one per batch
  * iteration. Anything else is left untouched. Opt-in per session via
  * `spark.graft.fkelim.enabled` — plan shape changes only when asked
  * for (the j14/j16/s30 pinned-conf discipline).
  */
object JoinEliminationRule extends Rule[LogicalPlan] {

  val EnabledKey = "spark.graft.fkelim.enabled"

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (FkCatalog.isEmpty || conf.getConfString(EnabledKey, "false") != "true") plan
    else plan.transform {
      case p @ Project(pl, j: Join) =>
        childSide(j, pl.flatMap(_.references)).map { case (keep, subst) =>
          Project(pl.map(substNamed(_, subst)), keep)
        }.getOrElse(p)
      case a @ Aggregate(g, ae, j: Join, _) =>
        childSide(j, (g ++ ae).flatMap(_.references)).map { case (keep, subst) =>
          a.copy(
            groupingExpressions = g.map(inline(_, subst)),
            aggregateExpressions = ae.map(substNamed(_, subst)),
            child = keep)
        }.orElse(distinctElim(a)).orElse(fdGroupPrune(a)).getOrElse(a)
      // the chain case (j21): after one elimination the survivor is
      // Aggregate → pruning-Project(s) → Join (column pruning ran in
      // the main batch and will not re-collapse what this batch
      // leaves), so the interposed attribute-only Project stack must
      // be peeled for the next fixed-point pass to fire. The stack
      // only ever NARROWS columns, so it is replaced by one minimal
      // projection of exactly the attributes the aggregate still
      // needs (post-substitution) — the scan stays as narrow as
      // pruning made it.
      case a @ Aggregate(g, ae, child, _) if peelAttrProjects(child).isDefined =>
        peelAttrProjects(child).flatMap(j =>
          childSide(j, (g ++ ae).flatMap(_.references)).map { case (keep, subst) =>
            val g2 = g.map(inline(_, subst))
            val ae2 = ae.map(substNamed(_, subst))
            val needed = AttributeSet((g2 ++ ae2).flatMap(_.references))
            a.copy(
              groupingExpressions = g2,
              aggregateExpressions = ae2,
              child = Project(keep.output.filter(needed.contains), keep))
          }).orElse(fdGroupPrune(a)).getOrElse(a)
      case a: Aggregate =>
        distinctElim(a).orElse(countDistinctElim(a)).orElse(fdGroupPrune(a)).getOrElse(a)
    }
  }

  /** A Join under a stack (possibly empty is NOT accepted — the bare
    * Join case is handled by the direct pattern) of attribute-only
    * Projects. Aliases or computed projections hide semantics and
    * refuse the peel.
    */
  private def peelAttrProjects(p: LogicalPlan): Option[Join] = p match {
    case Project(pl, c) if pl.forall(_.isInstanceOf[AttributeReference]) =>
      c match {
        case j: Join => Some(j)
        case _ => peelAttrProjects(c)
      }
    case _ => None
  }

  /** Replace every reference to the dropped parent's key with the
    * surviving child key (equal on every retained row by the join
    * condition; non-null by the validated constraint) — [[DefCatalog
    * .inline]] with the substitution map. Top-level named outputs keep
    * their original name and exprId via an alias so parent operators
    * never notice the substitution.
    */
  private def substNamed(
      ne: NamedExpression, subst: Map[ExprId, Attribute]): NamedExpression =
    if (subst.isEmpty) ne
    else ne match {
      case a: AttributeReference if subst.contains(a.exprId) =>
        Alias(subst(a.exprId), a.name)(exprId = a.exprId)
      case al: Alias =>
        Alias(inline(al.child, subst), al.name)(exprId = al.exprId,
          qualifier = al.qualifier, explicitMetadata = al.explicitMetadata)
      case other => inline(other, subst).asInstanceOf[NamedExpression]
    }

  /** DISTINCT elimination: `dropDuplicates(keys)` over a scan whose
    * registered UNIQUE key is among `keys` is a no-op — every row is
    * already its own group. By the time user rules run, Catalyst has
    * rewritten Deduplicate to `Aggregate(keys, keys ++ first(other))`
    * (ReplaceDeduplicateWithAggregate), so that is the shape matched:
    * grouping keys must cover a registered unique key of the scan,
    * every output is a grouped attribute or a first(attr) alias, and
    * the whole aggregate collapses to a Project over the (possibly
    * filtered — uniqueness survives filtering) child. At 100 TB the
    * elimination deletes a whole-table shuffle BI tools emit
    * defensively on primary keys.
    */
  private def distinctElim(a: Aggregate): Option[LogicalPlan] =
    for {
      (aliases, _, rel) <- decompose(a.child)
      gAttrs <- Some(a.groupingExpressions).filter(_.forall(_.isInstanceOf[Attribute]))
        .map(_.map(_.asInstanceOf[Attribute]))
      if gAttrs.nonEmpty
      gCanons = gAttrs.map(g => nameNorm(aliases.getOrElse(g.exprId, g)))
      if FkCatalog.allUniques.exists(u =>
        u.scan.sameScan(rel) && gCanons.exists(_.semanticEquals(u.keyCanon)))
      gSet = AttributeSet(gAttrs)
      outs <- traverse(a.aggregateExpressions.map {
        case at: Attribute if gSet.contains(at) => Some(at)
        case al @ Alias(aggregate.AggregateExpression(
            aggregate.First(c: Attribute, false), _, false, None, _), name) =>
          Some(Alias(c, name)(exprId = al.exprId))
        case al @ Alias(at: Attribute, _) if gSet.contains(at) => Some(al)
        case _ => None
      })
    } yield Project(outs, a.child)

  /** count(DISTINCT unique_key) → count(unique_key): the distinct
    * aggregation's Expand + extra exchange is a no-op when the
    * argument is a validated unique key of the scan. Grouped or
    * global; every other aggregate expression passes through
    * untouched, and the AggregateExpression keeps its resultId so
    * parents never notice.
    */
  private def countDistinctElim(a: Aggregate): Option[LogicalPlan] =
    for {
      (aliases, _, rel) <- decompose(a.child)
      uniq = FkCatalog.allUniques.filter(_.scan.sameScan(rel)).map(_.keyCanon).toSeq
      if uniq.nonEmpty
      newExprs = a.aggregateExpressions.map(_.transformUp {
        case ae @ aggregate.AggregateExpression(
            aggregate.Count(Seq(c)), _, true, None, _)
            if uniq.exists(nameNorm(inline(c, aliases)).semanticEquals) =>
          ae.copy(isDistinct = false)
      }.asInstanceOf[NamedExpression])
      if newExprs != a.aggregateExpressions
    } yield a.copy(aggregateExpressions = newExprs)

  /** FUNCTIONAL-DEPENDENCY group-by pruning: `GROUP BY pk, f(attrs…)`
    * where `pk` is a validated PRIMARY key (unique + non-null,
    * [[FkCatalog.registerUnique]] with `nonNull = true`) of a scan in
    * the aggregate's child, and every `attrs` column comes from that
    * SAME scan instance, narrows to `GROUP BY pk` with each pruned
    * expression recovered as `first(expr)` (constant per group, so
    * First's order-dependence is vacuous). BI tools emit exactly this
    * — `GROUP BY cust_id, cust_name, cust_address, …` — and the wide
    * string columns ride the exchange key for nothing; at 100 TB the
    * prune shrinks every shuffle row's key to the integer pk.
    *
    * Soundness: within any row set derived from the scan by the
    * WHITELISTED operators (Project/Filter/Join of any type), the
    * scan's attributes are row-wise a function of pk — each retained
    * row carries one whole dim row, and outer-join null-extension
    * nulls pk and the attrs TOGETHER, which collides with no real
    * group precisely because the key is validated non-null (a
    * nullable unique key would let a real (null-pk, attr) group merge
    * with the null-extended one — that is why uniqueness alone is not
    * enough). So the partition of rows under (pk, f(attrs)) is the
    * partition under pk alone, every aggregate value is unchanged,
    * and f (required deterministic) is constant per group. Operators
    * that can BREAK per-row provenance — Union (merges attribute ids
    * across branches), Expand (nulls grouping columns per projection)
    * — are simply never walked through, so a relation behind them is
    * invisible to the prune. Same point-in-time file-snapshot guard
    * as every other constraint consumer.
    */
  private def fdGroupPrune(a: Aggregate): Option[LogicalPlan] = {
    // scans reachable through provenance-preserving operators only —
    // plus the alias definitions those operators introduce (the
    // analyzer materializes computed GROUP BY expressions as a Project
    // below the Aggregate, so `GROUP BY pk, upper(name)` arrives as a
    // grouping ATTRIBUTE whose definition lives one Project down;
    // deterministic aliases preserve per-row provenance, so walking
    // through them is as sound as walking through attribute renames)
    def walk(p: LogicalPlan): (Seq[LogicalRelation], Map[ExprId, Expression]) = p match {
      case l: LogicalRelation => (Seq(l), Map.empty)
      case Project(pl, c) if pl.forall {
            case _: AttributeReference => true
            case al: Alias => al.child.deterministic
            case _ => false
          } =>
        val (rs, m) = walk(c)
        (rs, m ++ pl.collect { case al: Alias => al.exprId -> al.child })
      case Filter(_, c) => walk(c)
      case j: Join =>
        val (lr, lm) = walk(j.left)
        val (rr, rm) = walk(j.right)
        (lr ++ rr, lm ++ rm)
      case _ => (Nil, Map.empty)
    }
    val (rels, aliasMap) = walk(a.child)
    def inlineAll(e: Expression): Expression = {
      val r = e.transformUp {
        case at: AttributeReference if aliasMap.contains(at.exprId) => aliasMap(at.exprId)
      }
      if (r.fastEquals(e)) r else inlineAll(r)
    }
    val candidates: Seq[(LogicalRelation, Attribute)] = for {
      l <- rels
      u <- FkCatalog.allUniques.toSeq.sortBy(_.name)
      if u.nonNull && u.scan.sameScan(l)
      kAttr <- l.output.find(at => nameNorm(at).semanticEquals(u.keyCanon))
    } yield (l, kAttr)
    candidates.flatMap { case (rel, kAttr) =>
      val (keyG, restG) = a.groupingExpressions.partition {
        case at: Attribute => at.exprId == kAttr.exprId
        case _ => false
      }
      // pruned: non-key grouping expressions determined by the pk —
      // deterministic and (after inlining interposed alias
      // definitions) referencing ONLY this scan instance
      val (pruned, kept) = restG.partition { e =>
        val ie = inlineAll(e)
        ie.deterministic && ie.references.nonEmpty && ie.references.subsetOf(rel.outputSet)
      }
      if (keyG.isEmpty || pruned.isEmpty) None
      else {
        def isPruned(e: Expression): Boolean = pruned.exists(_.semanticEquals(e))
        def firstOf(e: Expression): Expression =
          aggregate.AggregateExpression(
            aggregate.First(e, ignoreNulls = false), aggregate.Complete, isDistinct = false)
        val mapped: Seq[Option[NamedExpression]] = a.aggregateExpressions.map {
          case at: Attribute if isPruned(at) =>
            Some(Alias(firstOf(at), at.name)(exprId = at.exprId))
          case at: Attribute => Some(at) // kept grouping attr (validity unchanged)
          case al @ Alias(_: aggregate.AggregateExpression, _) =>
            Some(al) // real aggregates pass through untouched
          case al @ Alias(e, name) if isPruned(e) =>
            Some(Alias(firstOf(e), name)(exprId = al.exprId))
          case al @ Alias(e, _) if (keyG ++ kept).exists(_.semanticEquals(e)) =>
            Some(al)
          // anything else (an expression OVER a pruned grouping value,
          // nested aggregates, …) — refuse rather than risk building
          // an invalid Aggregate
          case _ => None
        }
        if (mapped.exists(_.isEmpty)) None
        else Some(a.copy(
          groupingExpressions = keyG ++ kept,
          aggregateExpressions = mapped.map(_.get)))
      }
    }.headOption
  }

  /** If `j` is a registered FK join and `used` touches only the
    * constraint's CHILD side — plus, at most, the parent's join KEY,
    * which equals the child key on every retained row — return the
    * child subtree and the parent-key → child-key substitution map
    * (empty when the parent key goes unused). Row multiplicity is
    * preserved only child-ward: eliminating the child of a used
    * parent would be unsound whenever a parent row has 0 or 2+
    * children, so that direction is never attempted.
    */
  private def childSide(
      j: Join, used: Seq[Attribute]): Option[(LogicalPlan, Map[ExprId, Attribute])] =
    j match {
      case Join(l, r, Inner, Some(cond), _) =>
        val usedSet = AttributeSet(used)
        Seq((l, r), (r, l)).flatMap { case (keep, drop) =>
          val strays = usedSet -- keep.outputSet
          if (!eliminable(keep, drop, cond, leftOuter = false)) None
          else if (strays.isEmpty) Some((keep, Map.empty[ExprId, Attribute]))
          else bareKeys(keep, drop, cond) match {
            // references to the parent KEY rewrite to the child key
            case Some((ck, pk)) if strays.subsetOf(AttributeSet(pk :: Nil)) =>
              Some((keep, Map(pk.exprId -> ck)))
            case _ => None
          }
        }.headOption
      // LEFT OUTER: no child row is ever dropped, so the only hazard
      // is duplication — a UNIQUE right-side key alone proves the
      // elimination, with no null/orphan requirement on the left key
      // (unmatched rows null-extend, which nothing above observes).
      // The right key cannot substitute for left-key references here:
      // on an unmatched row it is NULL where the left key is not.
      case Join(l, r, LeftOuter, Some(cond), _)
          if AttributeSet(used).subsetOf(l.outputSet) &&
            eliminable(l, r, cond, leftOuter = true) =>
        Some((l, Map.empty))
      case _ => None
    }

  /** The join keys when both are BARE attributes of their sides (the
    * plain FK shape) — the only case key substitution supports.
    */
  private def bareKeys(
      keep: LogicalPlan, drop: LogicalPlan, cond: Expression)
      : Option[(AttributeReference, AttributeReference)] = cond match {
    case EqualTo(a: AttributeReference, b: AttributeReference)
        if keep.outputSet.contains(a) && drop.outputSet.contains(b) => Some((a, b))
    case EqualTo(a: AttributeReference, b: AttributeReference)
        if keep.outputSet.contains(b) && drop.outputSet.contains(a) => Some((b, a))
    case _ => None
  }

  /** Peel a KEEP-side subtree that provably yields only sub-multisets
    * of combinations of its scans' rows: Project(attrs/aliases),
    * Filter, SubqueryAlias, INNER join (any condition) over file
    * scans. Returns the merged alias-inline map and every leaf
    * relation. This is what makes eliminations CHAIN (the snowflake
    * case, j21): after fact ⋈ dim1 ⋈ dim2 loses dim2, the survivor
    * `fact ⋈ dim1` is itself a keep-tree whose dim1-side key still
    * satisfies the dim1→dim2 constraint — any key value present in
    * such a tree is a genuine row value of its source scan, so
    * non-null + orphan-free + unique carry through filters and inner
    * joins unchanged, and the fixed-point optimizer batch re-applies
    * the rule until the whole chain is gone. Anything that could
    * null-extend or fabricate rows (outer joins, unions, generates,
    * aggregates) fails the decomposition: a LEFT join inside the keep
    * side can hold NULL where the source column is scanned non-null,
    * and the inner join to the parent would then DROP rows the
    * elimination must preserve.
    */
  private def decomposeInnerTree(p: LogicalPlan)
      : Option[(Map[ExprId, Expression], Seq[LogicalRelation])] =
    DefCatalog.peel[Seq[LogicalRelation]](p) {
      case lr: LogicalRelation => Some((Map.empty, Nil, Seq(lr)))
      case Join(l, r, Inner, _, _) =>
        for {
          (ml, rl) <- decomposeInnerTree(l)
          (mr, rr) <- decomposeInnerTree(r)
        } yield (ml ++ mr, Nil, rl ++ rr)
      case _ => None
    }.map { case (m, _, rels) => (m, rels) }

  private def eliminable(
      keep: LogicalPlan, drop: LogicalPlan, cond: Expression,
      leftOuter: Boolean): Boolean = {
    val keepDec = decomposeInnerTree(keep)
    val dec = for {
      (mD, fD, lrD) <- decompose(drop)
      // keep side: an inner-tree for the INNER leg (see
      // [[decomposeInnerTree]]); for LEFT OUTER the keep side may be
      // ANY plan — no keep row is dropped or duplicated regardless of
      // what produced it, the duplication hazard lives entirely on
      // the dropped side — so a failed decomposition degrades to an
      // empty alias map instead of disqualifying (this is what lets
      // STACKS of defensive LEFT joins eliminate one by one).
      mK <- keepDec.map(_._1)
        .orElse(if (leftOuter) Some(Map.empty[ExprId, Expression]) else None)
      eq <- inline(cond, mK ++ mD) match {
        case EqualTo(a, b) if b.references.subsetOf(lrD.outputSet) &&
          a.references.nonEmpty && !a.references.exists(lrD.outputSet.contains) =>
          Some((a, b))
        case EqualTo(a, b) if a.references.subsetOf(lrD.outputSet) &&
          b.references.nonEmpty && !b.references.exists(lrD.outputSet.contains) =>
          Some((b, a))
        case _ => None
      }
    } yield {
      val ckCanon = nameNorm(eq._1)
      val pkCanon = nameNorm(eq._2)
      // constraints are point-in-time: the scans must still hold the
      // exact files the constraint was validated over (files appended
      // under the same directory after register() could violate
      // non-null/orphan-free/unique without re-validation)
      // the keep-side scan the child key is BOUND to — by exprId
      // containment, so two keep scans sharing column names can never
      // confuse the match; the FK reasoning then applies to that scan
      // whatever else is inner-joined around it
      val lrC = keepDec.flatMap(_._2.find(lr => eq._1.references.subsetOf(lr.outputSet)))
      val fk = lrC.exists { lc =>
        // canonical matching is by name — same guard as the MV tier
        DefCatalog.sharedNames(lc, lrD).isEmpty &&
          FkCatalog.all.exists(d =>
            d.child.sameScan(lc) && d.parent.sameScan(lrD) &&
              ckCanon.semanticEquals(d.childKeyCanon) &&
              pkCanon.semanticEquals(d.parentKeyCanon))
      }
      if (leftOuter) {
        // duplication is the only hazard: the dropped key must be
        // UNIQUE — via a standalone unique constraint or the parent
        // half of a validated FK. Dropped-side FILTERS are all
        // tolerable here: they only toggle matched vs null-extended,
        // invisible when no dropped column is referenced (and
        // uniqueness survives filtering).
        fk || FkCatalog.allUniques.exists(u =>
          u.scan.sameScan(lrD) && pkCanon.semanticEquals(u.keyCanon))
      } else {
        // INNER: the full FK (non-null, no orphans, unique) must hold,
        // and the dropped side may carry ONLY filters that provably
        // drop nothing: the join-implied IsNotNull of its own key, or
        // an IsNotNull of a column VALIDATED non-null as the child key
        // of a registered FK on this same scan (same file snapshot) —
        // the residue a previously-eliminated downstream join leaves
        // on a middle dimension in a snowflake chain (j21). Any real
        // parent-side filter would re-drop child rows and the
        // elimination would change results.
        val fOk = fD.flatMap(splitConjuncts).forall {
          case IsNotNull(c) =>
            val n = nameNorm(c)
            n.semanticEquals(pkCanon) ||
              FkCatalog.all.exists(d => d.child.sameScan(lrD) && n.semanticEquals(d.childKeyCanon))
          case _ => false
        }
        fk && fOk
      }
    }
    dec.contains(true)
  }
}
