package graft.tools

/** Smoke check: builds the flagship query ([[graft.SparkEntry.entry]],
  * TPC-H Q1 on sf0.001) in an [[graft.Engine]] session (extensions,
  * regime, functions) and prints its row count, which must be positive. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = graft.Engine.create(master = "local[4]", shufflePartitions = 4,
      appName = "graft-smoke")
    val df = graft.SparkEntry.entry(spark)
    val n = df.count()
    df.show(5, truncate = false)
    println(s"ENTRY_ROWS=$n")
    println("SQL_FN_CHECK=" + spark.sql(
      "SELECT erf(1.0) AS e, rolling_hash('abc') AS h").collect().head)
    spark.stop()
  }
}
