package graft.plans

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, AttributeReference, BoundReference, EqualTo, ExprId, Expression, InterpretedPredicate, SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.{Cross, Inner}
import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, Filter, HintInfo, Join, JoinHint, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

import graft.util.PlanningSamples
import graft.util.PlanningSamples.Sample

/** Sample-driven join reordering — the Spark analog of the reference's
  * per-predicate sample selectivity estimation (reference
  * src/compiler/Dialect/RelAlg/Transforms/queryopt/QueryGraph.cpp:264-294,
  * which evaluates predicates against stored Arrow samples before DPhyp
  * ordering). Catalyst's CBO covers column-stat histograms (ANALYZE TABLE,
  * PlanSpec's flip test) but falls back to guesses for complex/correlated
  * predicates — exactly where sampling shines.
  *
  * Mechanics: [[graft.util.PlanningSamples]] stores a ~2k-row uniform
  * sample per table plus its true row count, and loads each table's sample
  * into driver memory once per JVM, read in the driver from the sample's
  * parquet footer and rows with no Spark job ([[graft.util.ParquetMeta]]):
  * the one deliberately driver-sized object, like the reference's Arrow
  * sample blocks. At optimize time this rule flattens each maximal inner-join
  * tree and estimates every leaf as plain functions over those rows, with
  * no Spark job: base rows from the stored count, filter selectivity by
  * evaluating the leaf's pushed-down filter with Catalyst's interpreted
  * predicate, and join-key NDV by grouping the column's values. Nothing
  * else is cached: an estimate over ≤2k rows is cheaper than its key. Up to
  * [[SampleJoinReorder.DpMaxRelations]] leaves an exact DP picks the
  * (bushy) order; past that, or on a disconnected graph, a greedy pass
  * builds a left-deep tree: smallest estimated leaf first, then repeatedly
  * the smallest leaf connected to the built prefix by a join predicate
  * (never introducing a cross join the query didn't have).
  *
  * Besides the ORDER, the sampled estimates drive the join STRATEGY: each
  * emitted join carries a broadcast hint on a side whose estimated bytes
  * (est rows × default row width — Catalyst's own size model given a
  * correct row count) fit the session's autoBroadcastJoinThreshold. This
  * is the guide-§3.1 "hint when you know a side is small" applied
  * mechanically: the suites' LIKE/Contains/IN dimension predicates are
  * invisible to stats-based estimation, which otherwise plans a 5-figure
  * filtered side as a corpus-scale shuffle join — AQE converts the join at
  * runtime but only AFTER the big side's shuffle map stage has already run
  * (measured on JOB q1a: the full 2.5M-row title exchange survived AQE's
  * broadcast conversion; with the hint the static plan never exchanges it).
  *
  * No conf gates it: like the reference, which uses stored samples
  * wherever the catalog has them, the rule decides from its samples alone.
  * It only fires when EVERY leaf of the join tree maps to a sampled table,
  * the joins are plain hint-free inner joins, and predicates are
  * deterministic and subquery-free; a tree with an unsampled leaf keeps
  * Catalyst's plan. Spark's own
  * `spark.sql.optimizer.excludedRules=graft.plans.SampleJoinReorder` turns
  * it off for A/Bs (PlanSpec's ON/OFF tests, [[graft.tools.SuiteAB]]).
  */
case class SampleJoinReorder(spark: SparkSession) extends Rule[LogicalPlan]
    with org.apache.spark.sql.catalyst.expressions.PredicateHelper {
  import SampleJoinReorder._

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformDown {
    case j: Join if eligible(j) =>
      val (items, conds) = flatten(j)
      if (items.size < 2) j
      else estimateAll(items) match {
        case Some(est) if est.size == 2 =>
          // 2-relation tree: ordering is moot (inner join is symmetric),
          // but the sampled estimate can still rescue the join STRATEGY —
          // Catalyst's stats are blind to string-predicate selectivity
          // (LIKE/Contains/IN keep the full row count), so a side that is
          // tiny after its filter gets planned as a corpus-scale shuffle
          // join. Attach a broadcast hint in the original orientation
          // when a side's estimated bytes fit the session threshold
          // (guide §3.1: hint when you know a side is small).
          val hint = hintFor(bytesOf(est(0)._1, est(0)._2), bytesOf(est(1)._1, est(1)._2),
            est(0)._2, est(1)._2, false, false, broadcastThreshold)
          if (hint == JoinHint.NONE) j
          else Join(j.left, j.right, j.joinType, j.condition, hint)
        case Some(est) =>
          // ≤DpMaxRelations: exact DP enumeration (the reference runs DPhyp
          // when the subgraph count is small, OptimizeJoinOrder.cpp:122,
          // queryopt/DPhyp.cpp:4-70); larger trees and disconnected
          // graphs keep the greedy pass
          // canonical leaf order (estimate, then sample path, then the
          // canonicalized leaf's text): the DP must be IDEMPOTENT — after
          // a rewrite the optimizer re-runs the rule on the rebuilt tree,
          // whose flatten() yields leaves in a different order; a tie
          // broken differently would emit a flipped orientation forever
          // (no fixpoint). Ties break by content, never by a hash:
          // semanticHash() mixes in identity hashes (ParquetFileFormat's
          // hashCode), so a tied order would depend on JVM history.
          val canon = est.sortBy { case (p, e) =>
            (e, relOf(p).flatMap(sampleOf).fold("")(_.path), p.canonicalized.toString)
          }
          val topNeeded = org.apache.spark.sql.catalyst.expressions.AttributeSet(j.output)
          val ordered =
            (if (est.size <= DpMaxRelations)
              dpOrder(canon, conds, topNeeded)
            else None).getOrElse(greedyOrder(est, conds, topNeeded))
          // no-op when the chosen order confirms the written one
          if (ordered.fastEquals(j)) j else Project(j.output, ordered)
        case None => j
      }
  }

  /** Estimated in-memory bytes of a subtree: estimated rows × (8 + Σ column
    * defaultSize) — the same size model Catalyst's
    * SizeInBytesOnlyStatsPlanVisitor applies when it has a correct row
    * count, which is exactly what the sample supplies and the stats lack. */
  private def bytesOf(side: LogicalPlan, estRows: Double): Double =
    estRows * (8.0 + side.output.map(_.dataType.defaultSize).sum)

  /** The session's broadcast threshold, read once per call site: the DP
    * prices hints inside its 3^n split enumeration, where a per-call conf
    * lookup is measurable. */
  private def broadcastThreshold: Long =
    org.apache.spark.sql.internal.SQLConf.get.autoBroadcastJoinThreshold

  /** Broadcast hint for whichever side fits `thr` (the smaller side when
    * both do); NONE when neither fits or auto-broadcast is disabled. A hint
    * never changes results — only the physical strategy — and the planner
    * would make the same call itself if its row counts were right.
    *
    * Serialized-stage pricing (VERDICT r11 #3): broadcasting a side that
    * CONTAINS joins ("composite") nests that subtree inside the
    * BroadcastQueryStage, so a chain of such hints materializes strictly
    * sequentially (StageProbe on JOB q11b: 8 one-at-a-time AQE stages,
    * ~40 ms of driver re-plan gap each), while leaf-side broadcasts are
    * independent leaf stages that AQE runs concurrently. A composite side
    * is therefore only hinted when the other (probe) side's estimated rows
    * exceed [[SampleJoinReorder.StagePenaltyRows]] — otherwise the saved
    * exchange is smaller than the dependent-stage chain the hint creates,
    * the reproducible JOB q6f/q7c/q11b loss (+0.3–0.8 s on tiny-result
    * variants). */
  private def hintFor(leftBytes: Double, rightBytes: Double,
      leftRows: Double, rightRows: Double,
      leftComposite: Boolean, rightComposite: Boolean, thr: Long): JoinHint = {
    val b = Some(HintInfo(strategy = Some(BROADCAST)))
    val lFit = thr > 0 && leftBytes <= thr
    val rFit = thr > 0 && rightBytes <= thr
    if (lFit && (!rFit || leftBytes <= rightBytes))
      if (leftComposite && rightRows <= StagePenaltyRows) JoinHint.NONE else JoinHint(b, None)
    else if (rFit)
      if (rightComposite && leftRows <= StagePenaltyRows) JoinHint.NONE else JoinHint(None, b)
    else JoinHint.NONE
  }

  private def eligible(j: Join): Boolean =
    j.joinType == Inner && j.hint == JoinHint.NONE && j.condition.isDefined

  /** Flatten a tree of plain inner joins into (leaf plans, conjuncts).
    * Pure column-pruning Projects BETWEEN joins (ColumnPruning inserts one
    * above nearly every interior join) are transparent — without this the
    * rule only ever saw the innermost 2-leaf join of a real query tree.
    * The pruning they performed is re-established at rebuild ([[pruneTo]]),
    * and the top-level Project(j.output, …) wrapper restores the original
    * output columns. Leaf-side Projects (over Filter/Relation) stay intact. */
  private def flatten(plan: LogicalPlan): (Seq[LogicalPlan], Seq[Expression]) =
    plan match {
      case Join(l, r, Inner, cond, hint) if hint == JoinHint.NONE =>
        val (li, lc) = flatten(l)
        val (ri, rc) = flatten(r)
        (li ++ ri, lc ++ rc ++ cond.toSeq.flatMap(splitConjunctivePredicates))
      case Project(ps, j @ Join(_, _, Inner, _, JoinHint.NONE))
          if ps.forall(_.isInstanceOf[Attribute]) =>
        flatten(j)
      case other => (Seq(other), Nil)
    }

  /** Re-prune a rebuilt join side to the columns anything above still
    * needs (remaining conjuncts + the query's own output) — the interior
    * Projects flatten() looked through did exactly this for the ORIGINAL
    * order; carrying dead columns through the new order would widen every
    * exchange above (guide §2.3: project before the exchange). */
  private def pruneTo(side: LogicalPlan,
      needed: org.apache.spark.sql.catalyst.expressions.AttributeSet): LogicalPlan = {
    val keep = side.output.filter(needed.contains)
    if (keep.size == side.output.size || keep.isEmpty) side
    else Project(keep, side)
  }

  /** (leaf, estimated rows) for every leaf, or None if any leaf is not a
    * sampled table scan (rule must then stand down). */
  private def estimateAll(items: Seq[LogicalPlan]): Option[Seq[(LogicalPlan, Double)]] = {
    val ests = items.map(leaf => estimate(leaf).map(leaf -> _))
    if (ests.forall(_.isDefined)) Some(ests.flatten) else None
  }

  /** Estimated output rows of a leaf: true row count × sampled selectivity
    * of its (already pushed-down) filters. */
  private def estimate(leaf: LogicalPlan): Option[Double] = leaf match {
    case Project(_, child) => estimate(child)
    case Filter(cond, rel: LogicalRelation)
        if cond.deterministic && !cond.exists(_.isInstanceOf[SubqueryExpression]) =>
      sampleOf(rel).flatMap(s => selectivity(s, cond).map(s.count * _))
    case rel: LogicalRelation => sampleOf(rel).map(_.count.toDouble)
    case _ => None
  }

  /** The planning sample of a file-based relation, if its table has one. */
  private def sampleOf(rel: LogicalRelation): Option[Sample] = rel.relation match {
    case fs: HadoopFsRelation =>
      fs.location.rootPaths.headOption.flatMap(r => PlanningSamples.of(spark, r.toString))
    case _ => None
  }

  /** Exact bottom-up DP over connected subsets (DPsize shape — the bushy
    * search space DPhyp enumerates, sized for ≤[[SampleJoinReorder.DpMaxRelations]]
    * relations where 3^n split enumeration is trivial). Cost model is
    * C_out: Σ of estimated intermediate cardinalities, with
    *   card(S) = Π leaf-card(i∈S) × Π sel(spanning conjuncts inside S)
    * — one selectivity per component-connecting conjunct (most selective
    * first), so correlated pair keys and transitively-implied equalities
    * are not double-counted. Equi-join selectivity is the System-R
    * 1/max(ndv_a, ndv_b) with ndv estimated from the stored table SAMPLES
    * via the Chao1 richness estimator (d + f1²/2f2 — a 2k uniform sample
    * measures low-cardinality columns exactly and flags near-unique ones,
    * which linear d·N/n scaling gets wrong in both directions); non-equi
    * conjuncts take the classic 1/3. Cross joins are never introduced: a
    * split is legal only when some conjunct spans it, so a disconnected
    * graph yields None and the greedy pass (which preserves the query's own
    * cross) takes over. */
  private def dpOrder(
      est: Seq[(LogicalPlan, Double)], conds: Seq[Expression],
      topNeeded: org.apache.spark.sql.catalyst.expressions.AttributeSet): Option[LogicalPlan] = {
    val n = est.size
    val leaves = est.map(_._1)
    val cards = est.map(_._2)
    val outSets = leaves.map(_.outputSet)
    val allOut = outSets.reduce(_ ++ _)
    if (!conds.forall(_.references.subsetOf(allOut))) return None
    // per-conjunct: bitmask of referenced leaves + estimated selectivity
    val cMasks = conds.map { c =>
      (0 until n).foldLeft(0) { (m, i) =>
        if (c.references.intersect(outSets(i)).nonEmpty) m | (1 << i) else m
      }
    }
    val attrMap = attrMapOf(leaves)
    val cSels = conds.map(c => selOfConjunct(c, attrMap))
    val full = (1 << n) - 1
    // card(S): Π leaf-cards × spanning-forest selectivities. Blind
    // independence (Π of EVERY conjunct inside S) double-counts correlated
    // keys — TPC-DS q93's (item, ticket) pair join priced 18M⋈1.8M at 900
    // rows (truth 1.8M: ticket implies item) and the DP then ordered the
    // fact⋈returns join FIRST, regressing a plan Catalyst's CBO had right.
    // Kruskal-style: walk conjuncts most-selective-first, apply one only
    // when it newly CONNECTS leaf components (union-find); a conjunct
    // between already-connected leaves is correlated/transitively implied
    // (JOB's pairwise movie_id closure) and contributes nothing.
    val byMostSelective = conds.indices.sortBy(cSels).toArray
    val parent = new Array[Int](n)
    val card = new Array[Double](full + 1)
    var s = 1
    while (s <= full) {
      var c = 1.0
      var i = 0
      while (i < n) { parent(i) = i; if ((s & (1 << i)) != 0) c *= cards(i); i += 1 }
      def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
      var ki = 0
      while (ki < byMostSelective.length) {
        val k = byMostSelective(ki)
        if (cMasks(k) != 0 && (cMasks(k) & s) == cMasks(k)) {
          // does this conjunct merge ≥2 components of S?
          var first = -1; var merges = false
          var j = 0
          while (j < n) {
            if ((cMasks(k) & (1 << j)) != 0) {
              val r = find(j)
              if (first == -1) first = r
              else if (r != first) { parent(r) = first; merges = true }
            }
            j += 1
          }
          if (merges) c *= cSels(k)
        }
        ki += 1
      }
      card(s) = c
      s += 1
    }
    // estimated bytes per subset (for broadcast-side hints): card × row
    // width, row width = 8 + Σ member-leaf column widths
    val colW = leaves.map(_.output.map(_.dataType.defaultSize).sum)
    def bytesOfMask(sMask: Int): Double = {
      var w = 8.0; var i = 0
      while (i < n) { if ((sMask & (1 << i)) != 0) w += colW(i); i += 1 }
      card(sMask) * w
    }
    // the hint an (s1, s2) split would carry — shared by the DP pricing
    // below and the emitted tree so the cost model prices the plan that is
    // actually built (conf reads hoisted out of the 3^n enumeration)
    val thr = broadcastThreshold
    def hintOfSplit(s1: Int, s2: Int): JoinHint =
      hintFor(bytesOfMask(s1), bytesOfMask(s2), card(s1), card(s2),
        Integer.bitCount(s1) > 1, Integer.bitCount(s2) > 1, thr)
    // serialized-stage surcharge (VERDICT r11 #3 — price stage parallelism):
    // a split whose hint broadcasts a COMPOSITE side nests a dependent
    // broadcast stage; charge one StagePenaltyRows-equivalent so the DP
    // prefers an order with concurrent leaf-side builds when C_out is close
    def stageCost(s1: Int, s2: Int): Double = hintOfSplit(s1, s2) match {
      case JoinHint(Some(_), _) if Integer.bitCount(s1) > 1 => StagePenaltyRows
      case JoinHint(_, Some(_)) if Integer.bitCount(s2) > 1 => StagePenaltyRows
      case _ => 0.0
    }
    // DP: best cost + winning split per connected subset
    val cost = Array.fill(full + 1)(Double.PositiveInfinity)
    val split = new Array[Int](full + 1)
    var i0 = 0
    while (i0 < n) { cost(1 << i0) = 0.0; i0 += 1 }
    var size = 2
    while (size <= n) {
      var sMask = 1
      while (sMask <= full) {
        if (Integer.bitCount(sMask) == size) {
          var s1 = (sMask - 1) & sMask
          while (s1 > 0) {
            val s2 = sMask ^ s1
            if (s1 < s2 || true) { // both orientations priced identically below
              if (cost(s1).isFinite && cost(s2).isFinite) {
                val connects = conds.indices.exists { k =>
                  (cMasks(k) & sMask) == cMasks(k) &&
                    (cMasks(k) & s1) != 0 && (cMasks(k) & s2) != 0
                }
                if (connects) {
                  val c = cost(s1) + cost(s2) + card(sMask) + stageCost(s1, s2)
                  // strict tie-break on the split mask keeps the plan
                  // deterministic under equal costs (idempotence)
                  if (c < cost(sMask) ||
                    (c == cost(sMask) && s1 < split(sMask))) {
                    cost(sMask) = c; split(sMask) = s1
                  }
                }
              }
            }
            s1 = (s1 - 1) & sMask
          }
        }
        sMask += 1
      }
      size += 1
    }
    if (!cost(full).isFinite) return None
    // emit, attaching each conjunct at the first join covering its refs;
    // each emitted join carries a broadcast hint when a side's estimated
    // bytes fit the threshold — the sampled estimates are the whole point
    // of the rule, and the strategy decision needs them as much as the
    // order does (Catalyst's own stats planned JOB's 87k-row filtered
    // movie_companies side as a 2.5M-row title shuffle)
    // columns anything above `mask` still consumes: conjuncts not fully
    // applied inside it + the query's own output
    def neededAbove(mask: Int) =
      conds.indices.foldLeft(topNeeded) { (acc, k) =>
        if ((cMasks(k) & mask) != cMasks(k)) acc ++ conds(k).references else acc
      }
    def build(sMask: Int): LogicalPlan =
      if (Integer.bitCount(sMask) == 1)
        leaves(Integer.numberOfTrailingZeros(sMask))
      else {
        val s1 = split(sMask)
        val s2 = sMask ^ s1
        val applicable = conds.indices.filter { k =>
          (cMasks(k) & sMask) == cMasks(k) &&
            !((cMasks(k) & s1) == cMasks(k)) && !((cMasks(k) & s2) == cMasks(k))
        }.map(conds)
        Join(pruneTo(build(s1), neededAbove(s1)), pruneTo(build(s2), neededAbove(s2)),
          Inner, applicable.reduceOption(And), hintOfSplit(s1, s2))
      }
    Some(build(full))
  }

  /** exprId → sample: the relation's own attributes, traced through
    * Filter/Project pass-throughs (an aliased column simply doesn't resolve
    * and its conjunct takes the fallback selectivity) */
  private def attrMapOf(leaves: Seq[LogicalPlan]): Map[ExprId, Sample] =
    (for {
      leaf <- leaves; r <- relOf(leaf).toSeq; sample <- sampleOf(r).toSeq; a <- r.output
    } yield a.exprId -> sample).toMap

  private def relOf(leaf: LogicalPlan): Option[LogicalRelation] = leaf match {
    case Project(_, c) => relOf(c)
    case Filter(_, c) => relOf(c)
    case r: LogicalRelation => Some(r)
    case _ => None
  }

  /** Selectivity of one join conjunct (see [[dpOrder]] model). */
  private def selOfConjunct(c: Expression, attrMap: Map[ExprId, Sample]): Double =
    c match {
      case EqualTo(a: AttributeReference, b: AttributeReference) =>
        val ndvOf = (x: AttributeReference) => attrMap.get(x.exprId).flatMap(ndv(_, x.name))
        (ndvOf(a), ndvOf(b)) match {
          case (Some(x), Some(y)) => 1.0 / math.max(math.max(x, y), 1.0)
          case _ => 0.1
        }
      case _ => 1.0 / 3.0
    }

  /** Left-deep tree: smallest leaf first, then smallest leaf connected via
    * some conjunct; conjuncts are attached as soon as both sides exist.
    * The running prefix cardinality (same C_out model as the DP) prices
    * each emitted join's sides for the broadcast-side hint. */
  private def greedyOrder(
      est: Seq[(LogicalPlan, Double)], conds: Seq[Expression],
      topNeeded: org.apache.spark.sql.catalyst.expressions.AttributeSet): LogicalPlan = {
    val attrMap = attrMapOf(est.map(_._1))
    val thr = broadcastThreshold
    val unused = mutable.Buffer(conds: _*)
    var remaining = est.sortBy(_._2)
    var result = remaining.head._1
    var resultRows = remaining.head._2
    remaining = remaining.tail
    while (remaining.nonEmpty) {
      val idx = remaining.indexWhere { case (p, _) =>
        unused.exists { c =>
          c.references.subsetOf(result.outputSet ++ p.outputSet) &&
            c.references.intersect(p.outputSet).nonEmpty &&
            c.references.intersect(result.outputSet).nonEmpty
        }
      }
      val pick = math.max(idx, 0) // disconnected remainder: keep size order
      val (p, pRows) = remaining(pick)
      remaining = remaining.patch(pick, Nil, 1)
      val applicable = unused.filter(c =>
        c.references.subsetOf(result.outputSet ++ p.outputSet)).toSeq
      unused --= applicable
      // cross joins from a disconnected remainder stay unhinted — the
      // planner's own nested-loop handling is not worth overriding blind.
      // The accumulated prefix is composite after the first join — same
      // serialized-stage gate as the DP (hintFor doc)
      val prefixComposite = result.exists(_.isInstanceOf[Join])
      val hint =
        if (applicable.isEmpty) JoinHint.NONE
        else hintFor(bytesOf(result, resultRows), bytesOf(p, pRows),
          resultRows, pRows, prefixComposite, false, thr)
      result = Join(result, p,
        if (applicable.isEmpty) Cross else Inner,
        applicable.reduceOption(And), hint)
      // one selectivity factor per join (the most selective applicable
      // conjunct): all applicable conjuncts connect the same two sides
      // here, so multiplying them double-counts correlated keys (see the
      // spanning-forest note in dpOrder)
      val joinSel =
        if (applicable.isEmpty) 1.0
        else applicable.map(selOfConjunct(_, attrMap)).min
      resultRows = math.max(resultRows * pRows * joinSel, 1.0)
      // re-prune to what the remaining conjuncts + query output consume
      // (the interior Projects flatten() looked through did this for the
      // original order)
      if (remaining.nonEmpty)
        result = pruneTo(result,
          unused.foldLeft(topNeeded)((acc, c) => acc ++ c.references))
    }
    unused.reduceOption(And).map(Filter(_, result)).getOrElse(result)
  }
}

object SampleJoinReorder {
  /** Exact-DP threshold: the reference's DPhyp fires below its own subgraph
    * bound (OptimizeJoinOrder.cpp:122). DPsize split enumeration is 3^n:
    * 14 relations ≈ 4.8M split probes of ~10 cheap ops — tens of ms of
    * driver time once per query, amortized by the plan cache and dwarfed
    * by the exchanges a greedy mis-order costs (JOB q30a at ×50: greedy
    * left a 1M×1M SortMergeJoin that the DP's C_out never prices in;
    * 11/12-relation JOB trees were greedy's main customers). Past 14 the
    * enumeration itself becomes a planning-latency hazard (3^17 ≈ 129M)
    * and the greedy pass stays. */
  val DpMaxRelations: Int = 14

  /** Serialized-stage price in C_out row units (see
    * [[SampleJoinReorder!.hintFor]]): the probe rows a composite-side
    * broadcast must save before it is hinted, and the DP's surcharge for a
    * split that broadcasts a composite side. Calibrated EMPIRICALLY on the
    * JOB ×50 fleet (r12): at 4e5 (the naive 40 ms × 10M rows/s estimate)
    * the gate suppressed PROFITABLE composite hints on 16 queries — q1a
    * lost its pure-broadcast pipeline (4 BHJ → 2 BHJ + 2 SMJ) and the
    * fleet net win dropped from −17.9 % to −13.7 % — while at 5e4 every
    * JOB ×50 plan is bit-identical to the ungated rule (probes above 50k
    * rows keep their hints). The crossover is low because a suppressed
    * hint does not restore the CBO's own order: it yields the DP's order
    * WITHOUT its broadcasts, whose SMJ exchanges cost more than the
    * serialized stage chain for any probe beyond ~50k rows on local[32].
    * The gate is NOT inert at generator scale 1: it changes the plans of
    * job_q1a, job_q2a, job_q3a, job_q8a, tpcds_q7 and tpcds_q42, where
    * composite-side broadcast chains become leaf broadcasts, and an
    * interleaved 5-pair perfbench adhoc_suites A/B on a 4-core host ran
    * slower with the gate off in 4 of 5 pairs (median pass_s +4.4%) — so
    * it stays, as this constant. */
  val StagePenaltyRows: Double = 5e4

  /** Fraction of `sample`'s rows on which `cond` holds (a null result does
    * not hold, as in a Spark filter), with attributes re-bound by name; None
    * when the sample lacks a referenced column or the predicate cannot be
    * evaluated in-process. */
  private[graft] def selectivity(sample: Sample, cond: Expression): Option[Double] = {
    val names = sample.schema.fieldNames
    if (!cond.references.forall(a => names.contains(a.name))) None
    else if (sample.rows.isEmpty) Some(1.0)
    else {
      val bound = cond.transform { case a: AttributeReference =>
        val i = names.indexOf(a.name)
        BoundReference(i, sample.schema(i).dataType, sample.schema(i).nullable)
      }
      scala.util.Try {
        val p = InterpretedPredicate(bound)
        p.initialize(0)
        sample.rows.count(p.eval).toDouble / sample.rows.length
      }.toOption
    }
  }

  /** NDV of `column` in the table behind `sample`, by the Chao1 model of
    * [[SampleJoinReorder!.dpOrder]]; all-singleton samples take the true
    * count, saturated ones their distinct count. Values group as Spark's
    * groupBy compares them: binary by content, -0.0 equal to 0.0, NaN equal
    * to NaN, null as one group. None if the sample lacks the column. */
  private[graft] def ndv(sample: Sample, column: String): Option[Double] = {
    val i = sample.schema.fieldNames.indexOf(column)
    if (i < 0) None
    else {
      val dt = sample.schema(i).dataType
      val groups = new java.util.HashMap[Any, Long]()
      sample.rows.foreach { r =>
        val k = r.get(i, dt) match {
          case b: Array[Byte] => java.nio.ByteBuffer.wrap(b)
          case d: Double if d == 0.0 => 0.0
          case f: Float if f == 0.0f => 0.0f
          case v => v
        }
        groups.put(k, groups.getOrDefault(k, 0L) + 1L)
      }
      val freqs = groups.values.asScala
      val nS = sample.rows.length.toDouble
      val d = freqs.size.toDouble
      val f1 = freqs.count(_ == 1L).toDouble
      val f2 = freqs.count(_ == 2L).toDouble
      val total = sample.count.toDouble
      val est =
        if (nS == 0) 1.0
        else if (f2 > 0) math.min(d + f1 * f1 / (2 * f2), total)
        else if (f1 >= nS) total // all singletons: unique key
        else d // saturated: sample captured the full domain
      Some(math.max(est, 1.0))
    }
  }
}
