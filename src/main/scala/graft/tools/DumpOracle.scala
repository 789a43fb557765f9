package graft.tools

import java.nio.file.{Files, Paths}
import java.nio.charset.StandardCharsets

/** Dev tool: dump SparkEntry.oracleSql to a JSON file WITHOUT starting a
  * Spark session (the oracle map is pure strings). Used by
  * tools/count_rows.py to iterate on generator seed changes against DuckDB
  * alone — the closed-form generators render identically in both engines, so
  * DuckDB row counts predict the Spark side exactly.
  * Usage: runMain graft.tools.DumpOracle [outFile]
  */
object DumpOracle {
  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("/tmp/oracle_sql.json")
    val oracle = graft.SparkEntry.oracleSql
    val json = oracle.toSeq.sortBy(_._1)
      .map { case (k, v) => s"  ${graft.Verify.jsonStr(k)}: ${graft.Verify.jsonStr(v)}" }
      .mkString("{\n", ",\n", "\n}\n")
    Files.write(Paths.get(out), json.getBytes(StandardCharsets.UTF_8))
    println(s"[dump] ${oracle.size} oracle entries -> $out")
  }
}
