package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{ReusedSubqueryExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

import graft.{Engine, SparkEntry}

/** Plan printer for any contract query (a `SparkEntry.queries` name).
  *
  * Usage: runMain graft.tools.Explain [exec] <names...>
  *
  * Data-dir queries are built on a session over SPARK_GRAFT_SF_DIR (default
  * sf0.01), so they plan under that dir's regime: AQE, broadcast threshold
  * and shuffle width all derive from the data layout, and a plan dumped
  * under another regime is not the plan the bench runs. Suite queries
  * (TPC-DS, TPCx-BB, JOB, SSB, ClickBench) are built on a generator-scale
  * session without a data dir, as perfbench's ad-hoc workload runs them;
  * each suite builder registers its tables on first use.
  *
  * Without `exec`: the formatted physical plan before execution (an
  * adaptive plan shows its initial skeleton only). With `exec`: the query
  * is drained once through its own QueryExecution and the FINAL plan is
  * printed — AQE stages resolved — with every non-zero SQL metric of that
  * run, followed by the counts of reused exchanges and subqueries.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val exec = args.headOption.contains("exec")
    val names = (if (exec) args.drop(1) else args).toSeq
    val unknown = names.filterNot(SparkEntry.queries.contains)
    if (names.isEmpty || unknown.nonEmpty) {
      System.err.println("usage: graft.tools.Explain [exec] <query names...>" +
        (if (unknown.nonEmpty) s"; unknown: ${unknown.mkString(" ")}" else ""))
      sys.exit(2)
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString).toInt
    val (suite, dataDir) = names.partition(graft.util.Suites.names)
    for ((group, dir) <- Seq(dataDir -> Some(sfDir), suite -> None) if group.nonEmpty) {
      val spark = Engine.create(master = s"local[$cpus]", shufflePartitions = cpus,
        appName = "graft-explain", dataDir = dir)
      try group.foreach(n => explain(spark, n, sfDir, exec))
      finally spark.stop()
    }
  }

  private def explain(spark: SparkSession, name: String, sfDir: String, exec: Boolean): Unit = {
    val df = SparkEntry.queries(name)(spark, sfDir)
    val regime = spark.conf.get(Engine.RegimeConf, "scale")
    if (!exec) {
      println(s"========== $name ($regime regime) ==========")
      df.explain("formatted")
      return
    }
    val t0 = System.nanoTime()
    // df's OWN QueryExecution, so executedPlan below is the plan that ran
    df.queryExecution.toRdd.foreachPartition(it => while (it.hasNext) it.next())
    println(f"========== $name ($regime regime) FINAL plan, " +
      f"exec wall ${(System.nanoTime() - t0) / 1e9}%.3f s ==========")
    var reusedExchanges = 0
    var reusedSubqueries = 0
    def dump(p: SparkPlan, depth: Int): Unit = {
      p match {
        case _: ReusedExchangeExec => reusedExchanges += 1
        case _: ReusedSubqueryExec => reusedSubqueries += 1
        case _ =>
      }
      val ms = p.metrics.collect { case (k, m) if m.value > 0 => s"$k=${m.value}" }
      println(("  " * depth) + p.nodeName +
        (if (ms.nonEmpty) ms.toSeq.sorted.mkString("  [", " ", "]") else ""))
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case r: ReusedSubqueryExec => Seq(r.child)
        case other => other.children
      }
      kids.foreach(dump(_, depth + 1))
      p.subqueries.foreach { sq =>
        println(("  " * (depth + 1)) + "SUBQUERY:")
        dump(sq, depth + 2)
      }
    }
    dump(df.queryExecution.executedPlan, 0)
    println(s"[explain] $name reused_exchanges=$reusedExchanges reused_subqueries=$reusedSubqueries")
  }
}
