package graft.tools

import org.apache.spark.sql.DataFrame

/** Benchmark leg for the vendored query suites (TPC-DS / TPCx-BB / JOB /
  * SSB / ClickBench) at GENERATOR SCALE — the round-7 verdict's
  * "scale-unproven suites" item: the suites are hash-checked at the gate scale, but none of their plans
  * had ever run past toy size. The generators read GRAFT_TPCDS_SCALE /
  * GRAFT_JOB_SCALE / GRAFT_CB_SCALE (fact-table multipliers; dims fixed),
  * and the identical interpolated sizes reach the DuckDB oracle DDL, so
  * tools/suite_duckdb.py can time the same queries on the same data.
  *
  * Protocol matches Bench: 1 warmup + 5 measured runs per query, median,
  * direct plan execution with every partition drained. Prints ONE JSON
  * line. With `dumpOracle=<path>` it also writes the scaled oracle SQL
  * (SparkEntry.oracleSql: DDL + select per query) for the DuckDB side.
  *
  * Usage:
  *   GRAFT_TPCDS_SCALE=100 runMain graft.tools.SuiteBench \
  *     [runs=N] [dumpOracle=/tmp/suite_oracle.json] tpcds_q4 job_q6a cb_q32 ...
  */
object SuiteBench {
  def main(args: Array[String]): Unit = {
    val runs = args.find(_.startsWith("runs=")).map(_.stripPrefix("runs=").toInt).getOrElse(5)
    val dump = args.find(_.startsWith("dumpOracle=")).map(_.stripPrefix("dumpOracle="))
    val names = args.filterNot(a => a.startsWith("runs=") || a.startsWith("dumpOracle=")).toSeq
    val unknown = names.filterNot(graft.util.Suites.names)
    if (unknown.nonEmpty) {
      System.err.println(s"[suitebench] not suite queries: ${unknown.mkString(" ")}")
      sys.exit(2)
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString).toInt
    // No dataDir: the suite tables live in the generators' own tmp dirs —
    // size scan splits for multi-GB fact tables (Engine's no-dataDir
    // fallback is tuned for the tiny driver testdata).
    val spark = graft.Engine.create(master = s"local[$cpus]",
      shufflePartitions = cpus, appName = "graft-suitebench",
      extraConf = Map(
        "spark.sql.files.maxPartitionBytes" -> (64L * 1024 * 1024).toString,
        "spark.sql.files.openCostInBytes" -> (4L * 1024 * 1024).toString))

    val queries = graft.SparkEntry.queries
    def build(name: String): DataFrame = queries(name)(spark, "")

    dump.foreach { path =>
      val oracle = graft.SparkEntry.oracleSql
      val entries = names.flatMap(n => oracle.get(n).map(o =>
        s"${graft.Verify.jsonStr(n)}:${graft.Verify.jsonStr(o)}"))
      java.nio.file.Files.write(java.nio.file.Paths.get(path),
        entries.mkString("{", ",", "}").getBytes("UTF-8"))
      System.err.println(s"[suitebench] oracle dump -> $path (${entries.size} queries)")
    }

    def once(name: String): Double = {
      val t0 = System.nanoTime()
      build(name).queryExecution.toRdd.foreachPartition { it =>
        while (it.hasNext) it.next()
      }
      (System.nanoTime() - t0) / 1e9
    }
    val results = names.map { n =>
      val t = try {
        once(n) // warmup (also triggers one-time table materialization)
        val ts = Seq.fill(runs) { val r = once(n); System.gc(); r }
        System.err.println(s"[suitebench] $n runs: " + ts.map(x => f"$x%.2f").mkString(" "))
        ts.sorted.apply(runs / 2)
      } catch { case e: Throwable =>
        System.err.println(s"[suitebench] $n failed: ${e.getMessage}")
        -1.0
      }
      System.gc()
      n -> t
    }
    def f(v: Double) = String.format(java.util.Locale.ROOT, "%.4f", Double.box(v))
    val qs = results.map { case (k, v) => s""""$k":${f(v)}""" }.mkString("{", ",", "}")
    val scales = Seq("GRAFT_TPCDS_SCALE", "GRAFT_JOB_SCALE", "GRAFT_CB_SCALE")
      .map(k => s""""$k":${sys.env.getOrElse(k, "1")}""").mkString("{", ",", "}")
    println(s"""{"metric":"suite_total","value":${f(results.map(_._2).filter(_ >= 0).sum)},"unit":"sec","queries":$qs,"scales":$scales}""")
    spark.stop()
    if (results.exists(_._2 < 0)) sys.exit(1)
  }
}
