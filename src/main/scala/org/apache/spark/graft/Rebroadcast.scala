package org.apache.spark.graft

import java.io.{ObjectInputStream, ObjectOutputStream}
import java.lang.ref.WeakReference
import java.util.concurrent.{Future => JFuture}

import scala.concurrent.{ExecutionContext, Future => SFuture}
import scala.concurrent.duration.Duration
import scala.reflect.ClassTag

import org.apache.spark.SparkException
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.plans.physical.{BroadcastMode, BroadcastPartitioning, Partitioning}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, BroadcastExchangeLike, Exchange}
import org.apache.spark.sql.execution.joins.HashedRelationBroadcastMode
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.LongType
import org.apache.spark.unsafe.map.BytesToBytesMap
import org.apache.spark.util.{KnownSizeEstimation, ThreadUtils, Utils}

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

private[graft] object Rebroadcast {
  /** Build pool for overlapped rebuilds (the analog of
    * BroadcastExchangeExec.executionContext). */
  lazy val ec: ExecutionContext = ExecutionContext.fromExecutorService(
    ThreadUtils.newDaemonCachedThreadPool("graft-rebroadcast", 32))

  /** BroadcastExchangeExec's build limits, with its errors. A hashed build
    * on anything but one bigint key is an UnsafeHashedRelation, capped by
    * BytesToBytesMap's capacity at its 70% load factor. */
  def checkLimits(mode: BroadcastMode, rows: Long, bytes: Long): Unit = {
    val maxRows = mode match {
      case HashedRelationBroadcastMode(key, _)
          if !(key.length == 1 && key.head.dataType == LongType) =>
        (BytesToBytesMap.MAX_CAPACITY / 1.5).toLong
      case _ => 512000000L
    }
    // QueryExecutionErrors is private to the sql package: these are its
    // cannotBroadcastTableOverMaxTable{Rows,Bytes}Error, verbatim
    if (rows >= maxRows)
      throw new SparkException("_LEGACY_ERROR_TEMP_2248", Map(
        "maxBroadcastTableRows" -> maxRows.toString, "numRows" -> rows.toString), null)
    val maxBytes = SQLConf.get.maxBroadcastTableSizeInBytes
    if (bytes >= maxBytes)
      throw new SparkException("_LEGACY_ERROR_TEMP_2249", Map(
        "maxBroadcastTableBytes" -> Utils.bytesToString(maxBytes),
        "dataSize" -> Utils.bytesToString(bytes)), null)
  }
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
  * [[beginRefresh]] re-runs the full build, then [[awaitRefresh]] swaps the fresh relation in.
  *
  * Per rebuild (run 1 and every refresh alike):
  *  - the child subtree's own shuffle map outputs are forgotten first
  *    (ShuffleExchangeExec memoizes its ShuffledRowRDD, so without the
  *    reset a rebuild would skip the build side's map stages);
  *  - the rows are re-collected from the child's CACHED RDD DAG (built
  *    once, like the main DAG — what is amortized here is codegen source
  *    text and RDD construction, never data movement);
  *  - the relation is rebuilt on the driver (`mode.transform`) and shipped
  *    as a fresh TorrentBroadcast; the previous generation is destroyed.
  *
  * Each generation built (run 1's inside `execute()`, or a refresh's) is
  * held strongly only until the caller takes it with [[claimGeneration]];
  * graft.Prepared pins the claimed generations to the drain handle it
  * returns, so a generation lives exactly as long as that handle (see
  * [[RefreshableBroadcast]]).
  *
  * Every build enforces the stock node's limits with its errors: the row
  * cap (512M rows, ~358M for a hashed build on anything but one bigint
  * key) and `spark.sql.maxBroadcastTableSize`. Both are checked on the
  * collected rows, before `mode.transform` builds the relation, so an
  * oversized build side fails before its hash table is built (the stock
  * node sizes the built relation instead of the rows).
  *
  * Nested broadcasts compose: an inner RebroadcastExchangeExec inside this
  * node's child subtree keeps its own wrapper, which the re-collected child
  * consumes; graft.Prepared refreshes innermost-first (depth groups,
  * overlapped within a group via [[beginRefresh]]/[[awaitRefresh]]) so an
  * outer rebuild only ever observes already-refreshed inner relations. An
  * inner generation stays unclaimed, so strongly held, while the outer
  * rebuild reads it.
  */
case class RebroadcastExchangeExec(mode: BroadcastMode, child: SparkPlan)
    extends Exchange with BroadcastExchangeLike {

  override def outputPartitioning: Partitioning = BroadcastPartitioning(mode)

  /** The child's RDD DAG, built once; rows copied out of codegen's reused
    * UnsafeRow buffers before they cross the collect boundary. */
  @transient private lazy val collectRdd: RDD[InternalRow] =
    child.execute().mapPartitions(it => it.map(_.copy()))

  /** Shuffles feeding the child subtree. Stable across rebuilds:
    * ShuffleExchangeExec's ShuffleDependency is a memoized lazy val, which
    * is exactly why they must be forgotten per rebuild. */
  @transient private lazy val childShuffleIds: Seq[Int] =
    ShuffleReset.shuffleIds(collectRdd)

  @transient private var wrapper: RefreshableBroadcast[Any] = _
  @transient private var pending: SFuture[Broadcast[Any]] = _
  @transient private var unclaimed: Broadcast[Any] = _
  @transient private var lastRows: Long = 0L
  @transient private var lastBytes: Long = 0L

  /** One full honest build: collect job over the child DAG, driver-side
    * relation build, fresh TorrentBroadcast. */
  private def buildOnce(): Broadcast[Any] = {
    val rows = collectRdd.collect()
    val rowBytes = rows.iterator.map {
      case u: UnsafeRow => u.getSizeInBytes.toLong
      case _ => 64L
    }.sum
    Rebroadcast.checkLimits(mode, rows.length.toLong, rowBytes)
    val relation = mode.transform(rows)
    synchronized {
      lastRows = rows.length.toLong
      lastBytes = relation match {
        case h: KnownSizeEstimation => h.estimatedSize // HashedRelation
        case _ => rowBytes
      }
    }
    session.sparkContext.broadcastInternal(relation, serializedOnly = true)
      .asInstanceOf[Broadcast[Any]]
  }

  /** First half of a refresh: forget the child subtree's shuffle outputs
    * and submit the rebuild asynchronously, so graft.Prepared can overlap
    * all rebuilds of one nesting-depth group — the same overlap the normal
    * execution path gets from prepare(). No-op until a consumer has
    * captured the wrapper (run 1 builds through [[doExecuteBroadcast]]). */
  def beginRefresh(): Unit = synchronized {
    if (wrapper != null) {
      if (childShuffleIds.nonEmpty)
        ShuffleReset.forgetMapOutputs(session.sparkContext, childShuffleIds)
      pending = SFuture(buildOnce())(Rebroadcast.ec)
    }
  }

  /** Second half: await the rebuild and swap the fresh relation into the
    * stable wrapper (destroying the old generation). */
  def awaitRefresh(): Unit = {
    val p = synchronized(pending)
    if (p != null) {
      val next = ThreadUtils.awaitResult(
        p, Duration(SQLConf.get.broadcastTimeout, "s"))
      synchronized {
        wrapper.swap(next)
        unclaimed = next
        pending = null
      }
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
      unclaimed = buildOnce()
      wrapper = new RefreshableBroadcast[Any](unclaimed)
    }
    wrapper.asInstanceOf[Broadcast[T]]
  }

  // BroadcastExchangeLike surface — non-AQE plans (the only ones the rdd
  // tier admits) consume broadcasts solely through doExecuteBroadcast, but
  // keep these truthful for any other caller.
  override def relationFuture: JFuture[Broadcast[Any]] =
    java.util.concurrent.CompletableFuture.completedFuture(doExecuteBroadcast[Any]())
  override def completionFuture: SFuture[Broadcast[Any]] =
    SFuture.successful(doExecuteBroadcast[Any]())
  override def runtimeStatistics: Statistics = synchronized {
    Statistics(sizeInBytes = BigInt(lastBytes), rowCount = Some(BigInt(lastRows)))
  }

  override protected def doExecute(): RDD[InternalRow] =
    throw new UnsupportedOperationException(
      "RebroadcastExchangeExec does not support the execute() code path.")

  override protected def doCanonicalize(): SparkPlan =
    BroadcastExchangeExec(mode.canonicalized, child.canonicalized)

  override protected def withNewChildInternal(newChild: SparkPlan): RebroadcastExchangeExec =
    copy(child = newChild)
}
