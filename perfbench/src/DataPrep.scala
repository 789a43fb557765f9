package graftbench

/** Materializes the generator-scale suite tables (TPC-DS, JOB, SSB,
  * ClickBench) and their planning samples under java.io.tmpdir, once per
  * checkout, so measured runs only register them. */
object DataPrep {
  def main(args: Array[String]): Unit = {
    val spark = graft.Engine.create(appName = "graftbench-dataprep")
    try {
      graft.tpcds.Tpcds.ensure(spark)
      graft.job.Job.ensure(spark)
      graft.ssb.Ssb.ensure(spark)
      graft.clickbench.Clickbench.ensure(spark)
    } finally spark.stop()
  }
}
