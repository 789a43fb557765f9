package graft.tools

import org.apache.spark.sql.DataFrame

/** Result-equality A/B for the sample-driven join reorder + broadcast-hint
  * rule over the vendored suites: every named query (default: every
  * tpcds/tpcxbb/job/ssb/ssb2/cb query) runs once with the rule off
  * (`spark.sql.optimizer.excludedRules=graft.plans.SampleJoinReorder`) and
  * once on at the current generator scale, and the collected row multisets
  * must be identical. The oracle gate (Verify) grades the rule-on plans
  * against DuckDB; this checks that turning the rule off, which every
  * plan's correctness then rests on, changes no row.
  *
  * Usage: [GRAFT_*_SCALE=...] runMain graft.tools.SuiteAB [time] [names...]
  *
  * With `time` as the first arg it instead measures each query under both
  * settings in the SAME session, interleaved (off,on,off,on,…; 1 warmup
  * each, 5 measured, min) — the only honest way to compare on a host with
  * ±40% window noise across JVMs.
  */
object SuiteAB {
  private val ExcludedRules = "spark.sql.optimizer.excludedRules"

  def main(args: Array[String]): Unit = {
    val timeMode = args.headOption.contains("time")
    val qargs = if (timeMode) args.drop(1) else args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString).toInt
    val spark = graft.Engine.create(master = s"local[$cpus]",
      shufflePartitions = cpus, appName = "graft-suiteab",
      extraConf = Map(
        "spark.sql.files.maxPartitionBytes" -> (64L * 1024 * 1024).toString,
        "spark.sql.files.openCostInBytes" -> (4L * 1024 * 1024).toString))

    val queries = graft.SparkEntry.queries
    def build(name: String): DataFrame = queries(name)(spark, "")
    val names: Seq[String] =
      if (qargs.nonEmpty) qargs.toSeq else graft.util.Suites.names.toSeq.sorted

    // row multiset fingerprint: sorted toString lines (results are LIMITed
    // or aggregated in every suite — driver-sized by construction)
    def rows(df: DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq

    def leg(on: Boolean): Unit =
      if (on) spark.conf.unset(ExcludedRules)
      else spark.conf.set(ExcludedRules, classOf[graft.plans.SampleJoinReorder].getName)

    if (timeMode) {
      val lastPlanS = new java.util.concurrent.atomic.AtomicReference[Double](0.0)
      def once(n: String): Double = {
        val t0 = System.nanoTime()
        val rdd = build(n).queryExecution.toRdd
        lastPlanS.set((System.nanoTime() - t0) / 1e9) // analyze+optimize+plan (pre-AQE)
        rdd.foreachPartition(it => while (it.hasNext) it.next())
        (System.nanoTime() - t0) / 1e9
      }
      names.foreach { n =>
        leg(false); once(n); leg(true); once(n) // warmups
        val offs = scala.collection.mutable.Buffer[Double]()
        val ons = scala.collection.mutable.Buffer[Double]()
        val offPlan = scala.collection.mutable.Buffer[Double]()
        val onPlan = scala.collection.mutable.Buffer[Double]()
        (1 to 5).foreach { _ =>
          leg(false); offs += once(n); offPlan += lastPlanS.get()
          leg(true); ons += once(n); onPlan += lastPlanS.get()
          System.gc()
        }
        def fm(xs: Seq[Double]) = xs.map(x => f"$x%.2f").mkString(" ")
        println(f"[suiteab-time] $n off-min ${offs.min}%.2f on-min ${ons.min}%.2f " +
          f"plan off-min ${offPlan.min}%.2f on-min ${onPlan.min}%.2f " +
          f"(off: ${fm(offs.toSeq)} | on: ${fm(ons.toSeq)})")
      }
      spark.stop()
      return
    }

    var bad = 0
    names.foreach { n =>
      try {
        leg(false)
        val off = rows(build(n))
        leg(true)
        val on = rows(build(n))
        if (off == on) println(s"[suiteab] $n OK (${on.size} rows)")
        else {
          bad += 1
          println(s"[suiteab] $n MISMATCH off=${off.size} on=${on.size}")
          off.diff(on).take(3).foreach(r => println(s"  off-only: $r"))
          on.diff(off).take(3).foreach(r => println(s"  on-only:  $r"))
        }
      } catch { case e: Throwable =>
        bad += 1
        println(s"[suiteab] $n ERROR ${Option(e.getMessage).getOrElse(e.getClass.getName).take(200)}")
      }
    }
    println(s"[suiteab] done: ${names.size - bad}/${names.size} identical")
    spark.stop()
    if (bad > 0) sys.exit(1)
  }
}
