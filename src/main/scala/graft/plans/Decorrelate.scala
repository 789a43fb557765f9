package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{ByteType, DoubleType, IntegerType, LongType, ShortType}

/** General decorrelation for scalar subqueries Catalyst rejects.
  *
  * Catalyst's subquery validation only admits outer references in a
  * subquery's WHERE/HAVING; aggregates over outer references, outer
  * references in a subquery's select list (CORRELATED_REFERENCE),
  * outer-only GROUP BY keys, and outer references in inner-join conditions
  * are all refused. The reference engine's Neumann-style general unnesting
  * handles every one of these (reference
  * src/compiler/Dialect/RelAlg/Transforms/Unnesting.cpp, following
  * "Unnesting Arbitrary Queries", Neumann & Kemper, BTW 2015).
  *
  * This rule closes the gap ALGEBRAICALLY instead of building a dependent
  * join: a rejected scalar subquery is decomposed into outer-level arithmetic
  * over small single-aggregate subqueries that Catalyst does accept, using
  * exact identities (o is constant per outer row; aggregates skip NULL
  * terms):
  *
  *   SUM(o)        = CASE WHEN COUNT(1)=0 THEN NULL ELSE o*COUNT(1) END
  *   MIN/MAX/AVG(o)= CASE WHEN COUNT(1)=0 THEN NULL ELSE o END
  *   COUNT(o)      = CASE WHEN o IS NULL THEN 0 ELSE COUNT(1) END
  *   f(aggs, o)    = f((SELECT agg_i FROM ...), o)   -- splice into the outer
  *   GROUP BY o    = drop the key; guard with COUNT(1)=0 → NULL
  *
  * Aggregates whose argument MIXES outer and local references (SUM(o*l),
  * SUM(l±o), MIN/MAX(l+o)) never reach this rule: Spark's analyzer raises
  * AGGREGATE_FUNCTION_MIXED_OUTER_LOCAL_REFERENCES before any injected
  * resolution rule runs. Their identities live in the text rewrite
  * [[graft.sqlsurface.SqlCanonicalizer.decomposeOuterAggs]], which GraftSql
  * applies before parsing (PlanSpec pins both halves). The pure-outer
  * identities stay here as well: a query that reaches `spark.sql` directly
  * skips the text rewrite, and the text rewrite only recognizes qualified
  * outer columns (`a.c`), so an unqualified outer `SUM(c)` arrives here
  * through GraftSql too.
  *
  * Non-aggregate subqueries with outer references in the select list are
  * rewritten as f(o, (SELECT l FROM ...)) guarded by a probe subquery for the
  * zero-row case, and outer references in inner-join conditions are lifted
  * into a Filter above the join (exact for inner joins).
  *
  * The rule only fires on subqueries Catalyst would REJECT, so supported
  * queries keep their stock plans. It runs in the resolution fixpoint, so
  * type coercion re-normalizes any mixed-type arithmetic it emits.
  */
object DecorrelateComplexAggs extends Rule[LogicalPlan] with PredicateHelper {

  // ---- reference classification helpers -------------------------------

  private def hasOuter(e: Expression): Boolean =
    e.exists(_.isInstanceOf[OuterReference])

  /** References to the subquery's own relations: attributes NOT wrapped in
    * OuterReference, not counting anything inside nested subquery plans. */
  private def hasLocal(e: Expression): Boolean = e match {
    case _: OuterReference => false
    case _: SubqueryExpression => false
    case _: AttributeReference => true
    case other => other.children.exists(hasLocal)
  }

  private def pureOuter(e: Expression): Boolean = hasOuter(e) && !hasLocal(e)
  private def pureLocal(e: Expression): Boolean = !hasOuter(e) && hasLocal(e)

  /** Unwrap OuterReference for splicing into the OUTER plan. Does not descend
    * into subquery plans or their outer-attr bookkeeping. */
  private def strip(e: Expression): Expression = e match {
    case OuterReference(a) => a
    case s: SubqueryExpression => s
    case other => other.mapChildren(strip)
  }

  private def hasAgg(e: Expression): Boolean =
    e.exists(_.isInstanceOf[AggregateExpression])

  private def outerRefsOf(p: LogicalPlan): Seq[Expression] = {
    val buf = scala.collection.mutable.ArrayBuffer.empty[Expression]
    p.foreach(n => n.expressions.foreach(_.foreach {
      case o: OuterReference => buf += o
      case _ =>
    }))
    buf.toSeq.distinct
  }

  // ---- construction helpers -------------------------------------------

  private def scalarOf(plan: LogicalPlan): ScalarSubquery =
    ScalarSubquery(plan, outerRefsOf(plan))

  /** (SELECT <one agg> FROM child) as an outer-level scalar expression. */
  private def aggMini(agg: AggregateExpression, child: LogicalPlan): Expression =
    scalarOf(Aggregate(Nil, Seq(Alias(agg, "agg")()), child))

  private def countMini(child: LogicalPlan): Expression =
    aggMini(Count(Literal(1)).toAggregateExpression(), child)

  private def projMini(e: Expression, child: LogicalPlan): Expression =
    scalarOf(Project(Seq(Alias(e, "v")()), child))

  private def nullOf(e: Expression): Expression = Literal(null, e.dataType)

  private def guarded(cnt: Expression, value: Expression, tpe: Expression): Expression =
    If(EqualTo(cnt, Literal(0L)), nullOf(tpe), value)

  // ---- what Catalyst rejects ------------------------------------------

  private def offending(plan: LogicalPlan): Boolean = {
    var bad = false
    plan.foreach {
      case a: Aggregate =>
        if (a.groupingExpressions.exists(hasOuter) ||
          a.aggregateExpressions.exists(hasOuter)) bad = true
      case p: Project if p.projectList.exists(hasOuter) => bad = true
      case j: Join if j.condition.exists(hasOuter) => bad = true
      case _ =>
    }
    bad
  }

  // ---- aggregate decomposition ----------------------------------------

  /** Rewrite one aggregate call whose argument is purely outer into outer
    * arithmetic over pure-local mini-subqueries. None otherwise: a mixed
    * outer/local argument never gets here (see the object's scaladoc). */
  private def decomposeAgg(ae: AggregateExpression, child: LogicalPlan): Option[Expression] = {
    if (ae.isDistinct || ae.filter.isDefined) return None
    val out: Option[Expression] = ae.aggregateFunction match {
      // NOTE: outer expressions stay OuterReference-wrapped here; the caller
      // strips wrappers once, when splicing into the outer plan.
      case Sum(e, _) if pureOuter(e) =>
        // o*COUNT(1) in LongType when o is integral — exact for int64 beyond
        // 2^53, where a DoubleType product silently rounds — else DoubleType
        val t = e.dataType match {
          case ByteType | ShortType | IntegerType | LongType => LongType
          case _ => DoubleType
        }
        val cnt = countMini(child)
        Some(guarded(cnt, Multiply(Cast(e, t), Cast(cnt, t)), ae))
      case Min(e) if pureOuter(e) => Some(guarded(countMini(child), e, ae))
      case Max(e) if pureOuter(e) => Some(guarded(countMini(child), e, ae))
      case Average(e, _) if pureOuter(e) => Some(guarded(countMini(child), e, ae))
      case Count(Seq(e)) if pureOuter(e) =>
        Some(If(IsNull(e), Literal(0L), countMini(child)))
      case _ => None
    }
    out.map(e => Cast(e, ae.dataType))
  }

  /** Replace every aggregate call in `e` with outer arithmetic + mini
    * subqueries; purely local aggregates become one-aggregate subqueries
    * verbatim. */
  private def decomposeResult(e: Expression, child: LogicalPlan): Option[Expression] = {
    var failed = false
    val out = e.transformUp {
      case ae: AggregateExpression =>
        if (!ae.children.exists(hasOuter)) aggMini(ae, child)
        else decomposeAgg(ae, child).getOrElse { failed = true; ae }
    }
    if (failed) None else Some(out)
  }

  /** In a grouped (non-empty, local-keyed) aggregate every group has ≥1 row,
    * so aggregates of row-constant arguments collapse without guards. */
  private def eliminateOuterOnlyAggs(e: Expression): Expression = e.transformUp {
    case ae: AggregateExpression => ae.aggregateFunction match {
      case Min(x) if pureOuter(x) => x
      case Max(x) if pureOuter(x) => x
      case Average(x, _) if pureOuter(x) => Cast(x, ae.dataType)
      case Sum(x, _) if pureOuter(x) =>
        Cast(Multiply(Cast(x, DoubleType),
          Cast(Count(Literal(1)).toAggregateExpression(), DoubleType)), ae.dataType)
      case Count(Seq(x)) if pureOuter(x) =>
        If(IsNull(x), Literal(0L), Count(Literal(1)).toAggregateExpression())
      case _ => ae
    }
  }

  // ---- per-subquery rewrite -------------------------------------------

  private[plans] def rewriteScalar(s: ScalarSubquery): Option[Expression] = {
    if (!s.plan.resolved || !offending(s.plan)) return None

    // 1. lift outer conjuncts out of inner-join conditions (exact for Inner)
    var plan = s.plan transformUp {
      case j @ Join(_, _, Inner, Some(cond), _) if hasOuter(cond) =>
        val (outerC, localC) = splitConjunctivePredicates(cond).partition(hasOuter)
        Filter(outerC.reduce(And), j.copy(condition = localC.reduceOption(And)))
    }
    if (!offending(plan)) return Some(s.withNewPlan(plan))

    // 2. LIMIT over a scalar aggregate: 0 → NULL, k>=1 → no-op
    plan match {
      case GlobalLimit(Literal(0, _), _) => return Some(nullOf(s))
      case GlobalLimit(Literal(_, _), LocalLimit(_, inner)) if isScalarAgg(inner) =>
        plan = inner
      case _ =>
    }

    // 3. peel a trivial single-column forwarding Project over an aggregate —
    // the scalar value is the aggregate's only output either way
    plan match {
      case Project(Seq(fwd), inner: Aggregate) if inner.aggregateExpressions.size == 1 =>
        val forwards = fwd match {
          case a: AttributeReference => inner.outputSet.contains(a)
          case Alias(a: AttributeReference, _) => inner.outputSet.contains(a)
          case _ => false
        }
        if (forwards) plan = inner
      case _ =>
    }

    plan match {
      // ---- scalar aggregate root, group keys absent or outer-only ----
      case Aggregate(groups, Seq(res), child, _)
          if groups.forall(pureOuter) && !offending(child) =>
        val needGuard = groups.nonEmpty // outer-only keys: empty input → NULL
        val value = res match { case Alias(e, _) => e; case e => e }
        decomposeResult(value, child).flatMap { spliced =>
          if (hasLocal(spliced)) None // every local ref must live in a mini
          else {
            val v = Cast(strip(spliced), s.dataType)
            Some(if (needGuard) guarded(countMini(child), v, s) else v)
          }
        }

      // ---- HAVING over grouped aggregate with a row-constant result ----
      case Project(Seq(outCol), Filter(cond, agg @ Aggregate(groups, _, _, _)))
          if groups.nonEmpty && groups.forall(!hasOuter(_)) =>
        rewriteGroupedOuterResult(s, outCol, Some(cond), agg)

      // ---- grouped aggregate with a row-constant result ----
      case agg @ Aggregate(groups, Seq(res), _, _)
          if groups.nonEmpty && groups.forall(!hasOuter(_)) =>
        rewriteGroupedOuterResult(s, res, None, agg)

      // ---- non-aggregate projection with outer refs in the select list ----
      // f(o, l1, l2, …) → one struct-returning subquery for ALL local parts
      // (sibling subqueries would share attribute ids and break dedup), with
      // IS NULL on the struct as the zero-row probe.
      case Project(Seq(res), child) if !offending(child) &&
          !hasAgg(res match { case Alias(e, _) => e; case e => e }) =>
        val value = res match { case Alias(e, _) => e; case e => e }
        val locals = scala.collection.mutable.ArrayBuffer.empty[Expression]
        def collect(e: Expression): Unit =
          if (pureLocal(e)) { if (!locals.exists(_.semanticEquals(e))) locals += e }
          else e.children.foreach(collect)
        collect(value)
        val fields: Seq[Expression] =
          if (locals.isEmpty) Seq(Literal("p"), Literal(1))
          else locals.zipWithIndex.toSeq.flatMap { case (e, i) =>
            Seq(Literal(s"c$i"), e)
          }
        val sub = projMini(CreateNamedStruct(fields), child)
        def replace(e: Expression): Expression =
          locals.zipWithIndex.find(_._1.semanticEquals(e)) match {
            case Some((_, i)) => GetStructField(sub, i, Some(s"c$i"))
            case None => e.mapChildren(replace)
          }
        val pulled = replace(value)
        if (hasLocal(pulled)) None
        else Some(If(IsNull(sub), nullOf(s), Cast(strip(pulled), s.dataType)))

      case _ => None
    }
  }

  private def isScalarAgg(p: LogicalPlan): Boolean = p match {
    case Aggregate(Nil, _, _, _) => true
    case _ => false
  }

  /** `(SELECT <row-constant> FROM t GROUP BY k [HAVING p])`: only group
    * existence matters — replace the output with a probe and splice the value
    * at the outer level. Multi-group inputs keep erroring at runtime through
    * the probe, matching scalar-subquery semantics. */
  private def rewriteGroupedOuterResult(
      s: ScalarSubquery,
      outCol: NamedExpression,
      havingCond: Option[Expression],
      agg: Aggregate): Option[Expression] = {
    if (offending(agg.child)) return None
    if (havingCond.exists(c => hasAgg(c))) return None
    // resolve the output column down to the aggregate-list expression
    val expr0: Option[Expression] = outCol match {
      case a: AttributeReference =>
        agg.aggregateExpressions.collectFirst {
          case al @ Alias(e, _) if al.exprId == a.exprId => e
          case at: AttributeReference if at.exprId == a.exprId => at
        }
      case Alias(a: AttributeReference, _) =>
        agg.aggregateExpressions.collectFirst {
          case al @ Alias(e, _) if al.exprId == a.exprId => e
          case at: AttributeReference if at.exprId == a.exprId => at
        }
      case Alias(e, _) => Some(e)
      case _ => None
    }
    expr0.flatMap { raw =>
      val elim = eliminateOuterOnlyAggs(raw)
      if (!pureOuter(elim)) None
      else {
        // drop row-constant outputs; keep what the HAVING condition needs
        val kept = agg.aggregateExpressions.filter(ne => !pureOuter(
          eliminateOuterOnlyAggs(ne match { case Alias(e, _) => e; case e => e })))
        val keptOut = AttributeSet(kept.map(_.toAttribute))
        val condOk = havingCond.forall(_.references.subsetOf(keptOut))
        if (!condOk) None
        else {
          val pruned = agg.copy(aggregateExpressions = kept)
          val filtered = havingCond.map(Filter(_, pruned)).getOrElse(pruned)
          val probePlan = Project(Seq(Alias(Literal(1), "p")()), filtered)
          Some(If(IsNull(scalarOf(probePlan)), nullOf(s), Cast(strip(elim), s.dataType)))
        }
      }
    }
  }

  // ---- entry point ----------------------------------------------------

  private def rewriteInExpr(node: LogicalPlan): LogicalPlan =
    node.transformExpressionsUp {
      case sub: SubqueryExpression =>
        val innerPlan = apply(sub.plan)
        val recursed =
          if (innerPlan fastEquals sub.plan) sub else sub.withNewPlan(innerPlan)
        recursed match {
          case sc: ScalarSubquery => rewriteScalar(sc).getOrElse(sc)
          case other => other
        }
    }

  /** A correlated scalar subquery spliced into a grouped select list must sit
    * inside an aggregate function or the grouping list to satisfy Catalyst's
    * validation. For a reference-valid query the value is group-constant (its
    * outer references are grouping-functional), so wrapping the whole item in
    * MIN() is exact. Only items that would otherwise FAIL validation are
    * wrapped. */
  private def wrapNakedCorrelated(ne: NamedExpression, groups: ExpressionSet): NamedExpression = {
    def nakedCorrelated(e: Expression): Boolean = e match {
      case _: AggregateExpression => false
      case sc: ScalarSubquery => sc.outerAttrs.nonEmpty
      case other if groups.contains(other) => false
      case other => other.children.exists(nakedCorrelated)
    }
    ne match {
      case al @ Alias(child, name)
          if nakedCorrelated(child) && !groups.contains(child) =>
        Alias(Min(child).toAggregateExpression(), name)(exprId = al.exprId,
          qualifier = al.qualifier)
      case other => other
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan transformUp {
    case agg: Aggregate =>
      rewriteInExpr(agg) match {
        // canonicalization (ExpressionSet) requires resolved expressions —
        // defer the wrap to a later fixpoint iteration otherwise
        case a: Aggregate if a.groupingExpressions.nonEmpty &&
            a.groupingExpressions.forall(_.resolved) &&
            a.aggregateExpressions.forall(_.resolved) =>
          val groups = ExpressionSet(a.groupingExpressions)
          val fixed = a.aggregateExpressions.map(wrapNakedCorrelated(_, groups))
          if (fixed == a.aggregateExpressions) a
          else a.copy(aggregateExpressions = fixed)
        case other => other
      }
    case node => rewriteInExpr(node)
  }
}
