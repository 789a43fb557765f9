package org.apache.spark.graft

import org.apache.spark.{Dependency, MapOutputTrackerMaster, ShuffleDependency, SparkContext}
import org.apache.spark.rdd.RDD

import scala.collection.mutable

/** Bridge into `private[spark]` shuffle bookkeeping for the engine's
  * prepared-RDD cache (graft.Prepared).
  *
  * Re-draining an already-built RDD DAG would normally SKIP every shuffle
  * map stage whose outputs are still registered — silent result reuse.
  * The honest primitive Spark itself uses to force a map stage to re-run
  * (the fetch-failure recovery path, DAGScheduler) is clearing that
  * shuffle's map-output registry: the stage becomes "unavailable" and the
  * next job recomputes it from the scans up. This shim exposes exactly
  * that: enumerate the shuffle ids reachable from an RDD's lineage, and
  * unregister their map (and push-merge) outputs before each re-drain.
  */
object ShuffleReset {

  /** All shuffle ids reachable from `rdd`'s dependency DAG. */
  def shuffleIds(rdd: RDD[_]): Seq[Int] = {
    val seen = mutable.HashSet[Int]()
    val ids = mutable.ArrayBuffer[Int]()
    def walk(r: RDD[_]): Unit = if (seen.add(r.id)) {
      r.dependencies.foreach { d =>
        d match {
          case s: ShuffleDependency[_, _, _] => ids += s.shuffleId
          case _ => ()
        }
        walk(d.rdd)
      }
    }
    walk(rdd)
    ids.distinct.toSeq
  }

  /** Forget the map outputs of `ids` so the next job that needs them
    * re-runs their map stages (and everything upstream of those stages).
    * A shuffle the scheduler has not registered yet (its RDD was never
    * drained) has no outputs to forget and is skipped. */
  def forgetMapOutputs(sc: SparkContext, ids: Seq[Int]): Unit = {
    val tracker = sc.env.mapOutputTracker.asInstanceOf[MapOutputTrackerMaster]
    ids.filter(tracker.containsShuffle).foreach(tracker.unregisterAllMapAndMergeOutput)
  }
}
