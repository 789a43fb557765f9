package graft

import org.apache.spark.{Partition, TaskContext}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, Exchange, ReusedExchangeExec}
import org.apache.spark.sql.execution.ExecSubqueryExpression

import scala.collection.mutable

/** Prepared-query execution — the engine's compiled-artifact cache.
  *
  * A query that runs repeatedly (a dashboard refresh, a bench loop, a
  * nightly job re-invoked per partition) pays Catalyst's analyze → optimize
  * → physical-plan pipeline, whole-stage codegen source generation and RDD
  * construction on every submission even though all of it is identical each
  * time; at small scale factors that driver-side cost rivals the execution
  * itself. The reference compiles a statement ONCE and re-invokes the
  * compiled module (src/execution/Execution.cpp); this is the Spark-native
  * equivalent.
  *
  * [[freshRdd]] has two paths:
  *
  *  - RDD tier: the BUILT RDD DAG of an eligible plan is cached per session,
  *    keyed on the canonicalized analyzed plan, and re-drained on every
  *    later call. Honesty is restored by the one primitive Spark itself uses
  *    to force stage recomputation: before every re-drain the map outputs of
  *    EVERY shuffle in the DAG are unregistered
  *    (org.apache.spark.graft.ShuffleReset), so the DAGScheduler re-runs each
  *    map stage from the scans up — scans re-read, shuffles re-write,
  *    aggregates rebuild. Broadcast-bearing plans qualify too: every
  *    BroadcastExchangeExec is rewritten at install time to
  *    org.apache.spark.graft.RebroadcastExchangeExec, whose consumer-visible
  *    Broadcast is a stable RefreshableBroadcast wrapper; before each
  *    re-drain RebroadcastExchangeExec.beginRefresh/awaitRefresh re-runs the FULL build
  *    (child subtree re-executed with its own shuffle outputs forgotten,
  *    rows re-collected, hash relation rebuilt, fresh TorrentBroadcast) and
  *    swaps it in, innermost-first (depth groups: a node's depth is one
  *    more than the deepest rebroadcast in its build subtree, and groups
  *    run in ascending depth) so a nested rebuild only observes
  *    already-refreshed inner relations. Amortized per run: plan, codegen
  *    source text, RDD object construction. Recomputed per run: every byte
  *    of data movement, every broadcast build and all operator work.
  *    Intra-query reuse is kept: the DAG is reused as-is, so a shared
  *    shuffle recomputes once per drain, and the rewrite follows each
  *    ReusedExchangeExec into the exchange it shares, so every site of a
  *    shared broadcast resolves to the SAME RebroadcastExchangeExec and it
  *    rebuilds once per drain.
  *
  *    Lifetime: a broadcast generation lives exactly as long as the handle
  *    freshRdd returned for the drain that reads it, Spark's own rule for
  *    broadcasts. For a plan with rebroadcasts the handle is a one-parent
  *    pass-through RDD over the cached DAG that pins the generations this
  *    call built (the wrappers hold them only weakly); once the caller
  *    drops it, the ContextCleaner frees their blocks, so between drains a
  *    prepared query keeps no built relation. A drain reads the generations
  *    of the latest call, so drain the latest handle. Plans without
  *    broadcasts get the cached RDD itself.
  *
  *  - Fresh re-plan ([[freshExec]]) for everything else:
  *     - adaptive plans (AQE re-plans from runtime stats by design; it is
  *       on only in the scale regime, where planning cost is immaterial);
  *     - subquery expressions (memoized results inside the expression);
  *     - InMemoryTableScan (persist caches data by design — intra-query
  *       reuse is its semantics, but a cross-RUN re-drain would read the
  *       materialized cache).
  *
  * Staleness: the cache is session-scoped and keyed purely on the plan, so
  * a session that mutates the underlying files or flips planning-relevant
  * conf mid-stream should [[invalidate]] first (the bench never does
  * either).
  */
object Prepared {
  private val rddCache =
    new java.util.WeakHashMap[SparkSession,
      mutable.Map[LogicalPlan, (RDD[InternalRow], Seq[Int],
        Seq[Seq[org.apache.spark.graft.RebroadcastExchangeExec]])]]()

  private def sessionRddCache(spark: SparkSession) = rddCache.synchronized {
    var m = rddCache.get(spark)
    if (m == null) { m = mutable.Map.empty; rddCache.put(spark, m) }
    m
  }

  def invalidate(spark: SparkSession): Unit =
    rddCache.synchronized { rddCache.remove(spark); () }

  /** A FRESH QueryExecution over `df`'s analyzed plan — fresh optimizer/
    * planner run, fresh exchanges, fresh shuffle ids. The uncacheable
    * path must use this, never `df.queryExecution.toRdd`: `toRdd` is a
    * memoized lazy val, so a caller holding one Dataset across runs (the
    * bench's prepared-statement protocol) would get the SAME RDD back and
    * a re-drain would skip every completed shuffle map stage — silent
    * result reuse, exactly what this object exists to avoid. */
  private def freshExec(df: DataFrame): RDD[InternalRow] =
    df.sparkSession.sessionState.executePlan(df.queryExecution.analyzed).toRdd

  /** True when the BUILT RDD DAG itself may be cached and re-drained after
    * a shuffle-output reset + broadcast refresh (see the object scaladoc). */
  private def rddCacheable(p: SparkPlan): Boolean = p match {
    case _: AdaptiveSparkPlanExec => false
    case _ => !p.exists {
      case _: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec => true
      case q => q.expressions.exists(_.exists(_.isInstanceOf[ExecSubqueryExpression]))
    }
  }

  /** Rewrite every BroadcastExchangeExec to a RebroadcastExchangeExec,
    * preserving instance identity: ReuseExchange points its
    * ReusedExchangeExec (a leaf) at the SAME exchange instance it
    * deduplicated, so the rewrite descends into that child and is keyed on
    * object identity — both sites resolve to one rebroadcast node and a
    * shared relation still builds once per drain. `out` collects the new
    * nodes bottom-up (children before parents). */
  private def rewriteBroadcasts(
      plan: SparkPlan,
      seen: java.util.IdentityHashMap[SparkPlan, SparkPlan],
      out: mutable.ArrayBuffer[org.apache.spark.graft.RebroadcastExchangeExec]): SparkPlan = {
    val hit = seen.get(plan)
    if (hit != null) return hit
    val withChildren = plan match {
      case r: ReusedExchangeExec =>
        r.copy(child = rewriteBroadcasts(r.child, seen, out).asInstanceOf[Exchange])
      case _ if plan.children.isEmpty => plan
      case _ => plan.withNewChildren(plan.children.map(rewriteBroadcasts(_, seen, out)))
    }
    val result = withChildren match {
      case b: BroadcastExchangeExec =>
        val r = org.apache.spark.graft.RebroadcastExchangeExec(b.mode, b.child)
        out += r
        r
      case other => other
    }
    seen.put(plan, result)
    result
  }

  /** True when `node` is in `plan`'s tree, looking through every
    * ReusedExchangeExec into the exchange it shares. */
  private def reaches(plan: SparkPlan, node: SparkPlan): Boolean = (plan eq node) || (plan match {
    case r: ReusedExchangeExec => reaches(r.child, node)
    case _ => plan.children.exists(reaches(_, node))
  })

  /** Group rebroadcast nodes by nesting depth, innermost first. Rebuilds
    * within one group are independent (none consumes another's wrapper),
    * so freshRdd submits a whole group's build jobs before awaiting any —
    * the same build overlap the normal execution path gets from prepare().
    * Groups still run in order: an outer rebuild re-executes its child
    * subtree, which reads inner wrappers, so inners must be swapped first
    * or the outer build would consume a previous drain's relation. */
  private def depthGroups(
      rebs: Seq[org.apache.spark.graft.RebroadcastExchangeExec])
      : Seq[Seq[org.apache.spark.graft.RebroadcastExchangeExec]] = {
    if (rebs.isEmpty) return Nil
    val depth =
      new java.util.IdentityHashMap[org.apache.spark.graft.RebroadcastExchangeExec, Int]()
    rebs.foreach { r => // rebs is bottom-up: inners precede outers
      val inner = rebs.filter(i => (i ne r) && depth.containsKey(i) && reaches(r.child, i))
      depth.put(r, if (inner.isEmpty) 0 else inner.map(depth.get(_)).max + 1)
    }
    rebs.groupBy(depth.get(_)).toSeq.sortBy(_._1).map(_._2)
  }

  /** The drain handle over a cached DAG: `rebs`' just-built generations
    * pinned to a pass-through RDD, or the DAG itself when it has none. */
  private def handle(dag: RDD[InternalRow],
      rebs: Seq[org.apache.spark.graft.RebroadcastExchangeExec]): RDD[InternalRow] =
    if (rebs.isEmpty) dag
    else new Pinned(dag, rebs.flatMap(r => Option(r.claimGeneration())))

  /** Execute `df`'s query: a hit re-drains the cached RDD after a shuffle
    * reset and broadcast refresh; a miss builds and caches the RDD when the
    * plan is eligible, else re-plans on a fresh QueryExecution (see
    * [[freshExec]]). The returned RDD recomputes fully when drained; keep it
    * until its drain ends (it pins the broadcast relations the drain reads). */
  def freshRdd(df: DataFrame): RDD[InternalRow] = {
    val spark = df.sparkSession
    val qe = df.queryExecution
    val key = qe.analyzed.canonicalized
    val rm = sessionRddCache(spark)
    rm.get(key) match {
      case Some((rdd, shuffles, rebroadcastGroups)) =>
        // honest re-drain: every map stage forgets its outputs first, so
        // the scheduler recomputes the full DAG from the scans up, and
        // every broadcast relation is rebuilt (depth groups innermost-
        // first, overlapped within a group) before the wrapper the DAG
        // references is read again
        org.apache.spark.graft.ShuffleReset.forgetMapOutputs(
          spark.sparkContext, shuffles)
        rebroadcastGroups.foreach { g =>
          g.foreach(_.beginRefresh()); g.foreach(_.awaitRefresh())
        }
        handle(rdd, rebroadcastGroups.flatten)
      case None =>
        val p = qe.executedPlan
        if (rddCacheable(p)) {
          // burn the plan instance into the cached DAG on purpose — this
          // tier's whole point is reusing the built artifact; run 1 needs
          // no reset (no outputs registered yet) and builds generation-1
          // broadcasts through the rewritten exchanges' wrappers
          val rebroadcasts =
            mutable.ArrayBuffer[org.apache.spark.graft.RebroadcastExchangeExec]()
          val p2 = rewriteBroadcasts(p,
            new java.util.IdentityHashMap[SparkPlan, SparkPlan](), rebroadcasts)
          val rdd = p2.execute()
          rm(key) = (rdd, org.apache.spark.graft.ShuffleReset.shuffleIds(rdd),
            depthGroups(rebroadcasts.toSeq))
          handle(rdd, rebroadcasts.toSeq)
        } else freshExec(df)
    }
  }

  /** A pass-through over `dag` that keeps `generations` reachable on the
    * driver for as long as the handle itself is. */
  private[graft] final class Pinned(dag: RDD[InternalRow],
      @transient val generations: Seq[Broadcast[Any]])
      extends RDD[InternalRow](dag) {
    override protected def getPartitions: Array[Partition] = firstParent[InternalRow].partitions
    override def compute(split: Partition, context: TaskContext): Iterator[InternalRow] =
      firstParent[InternalRow].iterator(split, context)
  }
}
