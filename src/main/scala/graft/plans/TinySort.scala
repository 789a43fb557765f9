package graft.plans

import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule

/** Single-partition global sorts for the tiny-data regime.
  *
  * A global `Sort` plans as a range-partitioned exchange, and building the
  * RangePartitioner runs a SEPARATE sampling job over the sort's child —
  * at small scale factors that job (plus its scheduling round-trip) costs
  * more than the sort itself (~80-100 ms of a ~450 ms query, measured from
  * the stage timeline at sf0.1). Compiled single-node engines (the
  * reference's sort lowering, lingo-db Sorting.cpp; DuckDB likewise) sort
  * small results in one thread with no sampling pass. This rule restores
  * that shape on Spark: when the engine knows the whole dataset is small
  * (Engine sets `spark.graft.regime` from the data directory's file sizes;
  * see Engine.smallRegime), rewrite
  *
  *   Sort(order, global = true, child)
  *     → Sort(order, global = false, Repartition(1, shuffle = true, child))
  *
  * — a single-bucket hash exchange (no sampling job) feeding one in-memory
  * sort whose single partition is trivially a total order. Sorts under a
  * Limit are left intact so the TakeOrderedAndProject strategy still fires
  * (per-partition top-k + driver merge beats any full sort at every scale).
  *
  * At cluster scale the rule is inert: the regime is `scale` whenever the
  * largest table exceeds Engine.SmallBytes, which bounds every sort input
  * the rule can see (a per-sort stats gate was tried and dropped: size
  * estimates above multi-joins explode to 10^30+ while the actual
  * post-aggregation sort inputs are a few rows — in a small dataset the
  * regime itself is the bound that matters).
  */
object TinySinglePartitionSort extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!graft.Engine.smallRegime(conf)) plan else rewrite(plan, underLimit = false)

  private def rewrite(p: LogicalPlan, underLimit: Boolean): LogicalPlan = p match {
    // Limit(Sort) / Limit(Project(Sort)) are TakeOrderedAndProject's
    // patterns — keep the global sort so the strategy matches.
    case gl: GlobalLimit => gl.mapChildren(c => rewrite(c, underLimit = true))
    case ll: LocalLimit => ll.mapChildren(c => rewrite(c, underLimit))
    case pr: Project if underLimit => pr.mapChildren(c => rewrite(c, underLimit))
    case Sort(order, true, child, hint) if !underLimit =>
      Sort(order, global = false,
        Repartition(1, shuffle = true, rewrite(child, underLimit = false)), hint)
    case other => other.mapChildren(c => rewrite(c, underLimit = false))
  }
}
