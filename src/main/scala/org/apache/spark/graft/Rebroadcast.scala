package org.apache.spark.graft

import java.io.{ObjectInputStream, ObjectOutputStream}
import java.lang.ref.WeakReference

import scala.reflect.ClassTag

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.physical.{BroadcastMode, BroadcastPartitioning, Partitioning}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, Exchange}

/** A stable [[Broadcast]] handle over a swappable current generation.
  *
  * Whole-stage codegen captures the build side's Broadcast OBJECT into the
  * generated plan's reference array at RDD-construction time, so a cached
  * RDD DAG (graft.Prepared's rdd tier) would otherwise read the same built
  * hash relation on every drain — materialized-state reuse. This wrapper is
  * what gets captured instead: `value()` reads whatever generation is
  * current, and [[RebroadcastExchangeExec.awaitRefresh]] swaps in a freshly
  * rebuilt one (destroying the old generation's blocks) before each
  * re-drain. Tasks deserialize the wrapper from the task binary — which the
  * DAGScheduler re-serializes on every stage submission — so executors
  * always observe the current generation.
  *
  * Lifetime: on the driver the wrapper holds its generation only weakly.
  * What keeps a generation alive is the drain handle graft.Prepared returns
  * for the call that built it; once that handle is unreachable, Spark's
  * ContextCleaner frees the generation's blocks, as it does for any
  * broadcast. The task binary carries the generation strongly
  * (writeObject/readObject), so an executor holds it while its task reads
  * it.
  */
class RefreshableBroadcast[T: ClassTag](first: Broadcast[T])
    extends Broadcast[T](first.id) {
  @transient @volatile private var cur = new WeakReference(first)
  /** The generation a deserialized copy (a task's) was shipped with. */
  @transient private var shipped: Broadcast[T] = _

  private def current: Broadcast[T] =
    if (shipped != null) shipped
    else Option(cur.get).getOrElse(throw new IllegalStateException(
      s"broadcast $id: its current generation was released with the drain handle " +
        "that pinned it; drain the handle of the latest graft.Prepared.freshRdd call"))

  private[graft] def swap(next: Broadcast[T]): Unit = {
    val old = cur.get
    cur = new WeakReference(next)
    if (old != null && (old ne next)) old.destroy() // async: frees the stale generation's blocks
  }

  private def writeObject(out: ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    out.writeObject(current)
  }

  private def readObject(in: ObjectInputStream): Unit = {
    in.defaultReadObject()
    shipped = in.readObject().asInstanceOf[Broadcast[T]]
  }

  override protected def getValue(): T = current.value
  override protected def doUnpersist(blocking: Boolean): Unit =
    Option(cur.get).foreach(_.unpersist(blocking))
  override protected def doDestroy(blocking: Boolean): Unit =
    Option(cur.get).foreach(_.destroy(blocking))
}

/** A broadcast exchange whose built relation is honestly REBUILT per drain.
  *
  * The prepared-RDD tier (graft.Prepared) caches a built RDD DAG and forces
  * every shuffle map stage to recompute per drain via ShuffleReset. A stock
  * [[BroadcastExchangeExec]] defeats that honesty: it memoizes its
  * relationFuture, and the consuming join captures the resulting Broadcast
  * object into codegen references — re-drains would reuse the built hash
  * table. This node is the broadcast analog of the shuffle reset: the
  * consumer captures a [[RefreshableBroadcast]] wrapper once, and
  * [[beginRefresh]] re-runs the full build, then [[awaitRefresh]] swaps the
  * fresh relation in.
  *
  * Every generation (run 1's and every refresh's) is a stock build: a fresh
  * `BroadcastExchangeExec(mode, child)` whose relationFuture collects the
  * child, applies the stock row and byte limits with their errors, builds
  * the relation (`mode.transform`) and ships it as a fresh TorrentBroadcast
  * on Spark's broadcast pool, with the calling thread's local properties
  * and session captured and a job tag for cancellation; `executeBroadcast`
  * brings the stock timeout. The copy is dropped once its relation is
  * taken: its relationFuture would otherwise pin that generation. Before a
  * refresh the child subtree's own shuffle map outputs are forgotten
  * (`execute()` and ShuffleExchangeExec's dependency are memoized, so the
  * copy re-reads the child's CACHED RDD DAG and would otherwise skip the
  * build side's map stages). What is amortized is codegen source text and
  * RDD construction, never data movement.
  *
  * Each generation built is held strongly only until the caller takes it
  * with [[claimGeneration]]; graft.Prepared pins the claimed generations to
  * the drain handle it returns, so a generation lives exactly as long as
  * that handle (see [[RefreshableBroadcast]]).
  *
  * Nested broadcasts compose: an inner RebroadcastExchangeExec inside this
  * node's child subtree keeps its own wrapper, which the re-collected child
  * consumes; graft.Prepared refreshes innermost-first (depth groups,
  * overlapped within a group via [[beginRefresh]]/[[awaitRefresh]]) so an
  * outer rebuild only ever observes already-refreshed inner relations. An
  * inner generation stays unclaimed, so strongly held, while the outer
  * rebuild reads it.
  */
case class RebroadcastExchangeExec(mode: BroadcastMode, child: SparkPlan) extends Exchange {

  override def outputPartitioning: Partitioning = BroadcastPartitioning(mode)

  /** Shuffles feeding the child subtree, read off its memoized RDD DAG. */
  @transient private lazy val childShuffleIds: Seq[Int] =
    ShuffleReset.shuffleIds(child.execute())

  @transient private var wrapper: RefreshableBroadcast[Any] = _
  @transient private var pending: BroadcastExchangeExec = _
  @transient private var unclaimed: Broadcast[Any] = _

  /** First half of a refresh: forget the child subtree's shuffle outputs
    * and start a stock build, so graft.Prepared can overlap all rebuilds of
    * one nesting-depth group — the same overlap the normal execution path
    * gets from prepare(). No-op until a consumer has captured the wrapper
    * (run 1 builds through [[doExecuteBroadcast]]). */
  def beginRefresh(): Unit = synchronized {
    if (wrapper != null) {
      if (childShuffleIds.nonEmpty)
        ShuffleReset.forgetMapOutputs(session.sparkContext, childShuffleIds)
      pending = BroadcastExchangeExec(mode, child)
      pending.relationFuture // starts the build
    }
  }

  /** Second half: await the rebuild and swap the fresh relation into the
    * stable wrapper (destroying the old generation). */
  def awaitRefresh(): Unit = {
    val p = synchronized { val p = pending; pending = null; p }
    if (p != null) {
      val next = p.executeBroadcast[Any]()
      synchronized { wrapper.swap(next); unclaimed = next }
    }
  }

  /** The generation built since the last call (null if none), handed to the
    * caller, who keeps it alive: the wrapper itself holds it only weakly. */
  def claimGeneration(): Broadcast[Any] = synchronized {
    val g = unclaimed
    unclaimed = null
    g
  }

  override def doExecuteBroadcast[T](): Broadcast[T] = synchronized {
    if (wrapper == null) {
      unclaimed = BroadcastExchangeExec(mode, child).executeBroadcast[Any]()
      wrapper = new RefreshableBroadcast[Any](unclaimed)
    }
    wrapper.asInstanceOf[Broadcast[T]]
  }

  override protected def doExecute(): RDD[InternalRow] =
    throw new UnsupportedOperationException(
      "RebroadcastExchangeExec does not support the execute() code path.")

  override protected def doCanonicalize(): SparkPlan =
    BroadcastExchangeExec(mode.canonicalized, child.canonicalized)

  override protected def withNewChildInternal(newChild: SparkPlan): RebroadcastExchangeExec =
    copy(child = newChild)
}
