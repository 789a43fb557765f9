package graft

import java.io.File

/** TPC-H SF1 end to end: DuckDB's 22 query texts through GraftSql against
  * DuckDB's SF1 answers, on data from the same dbgen. Self-provisions the
  * fixture with tools/gen_tpch_sf1.py (DuckDB's bundled `tpch` extension,
  * offline); cancels rather than fails where python3/duckdb is unavailable.
  */
class TpchGoldenSpec extends SparkSpec {
  private val dir = "/tmp/graft_tpch_sf1"

  private def provisioned(): Boolean = {
    val done = new File(s"$dir/q22.ans") // written last by the generator
    if (done.exists()) return true
    try {
      val pb = new ProcessBuilder("python3", "tools/gen_tpch_sf1.py", dir, "1")
      pb.redirectErrorStream(true)
      val p = pb.start()
      val out = new String(p.getInputStream.readAllBytes())
      val rc = p.waitFor()
      if (rc != 0) info(s"fixture generation failed (rc=$rc): ${out.takeRight(300)}")
      rc == 0 && done.exists()
    } catch { case e: Exception => info(e.toString); false }
  }

  test("TPC-H SF1: DuckDB's 22 query texts match its tpch_answers()") {
    if (!provisioned())
      cancel("python3/duckdb unavailable to provision the SF1 fixture")
    val r = graft.slt.TpchGolden.run(spark, dir)
    r.failures.foreach(f => info(s"FAIL $f"))
    assert(r.failed == 0 && r.passed == 22,
      s"TPC-H SF1 golden: ${r.passed}/${r.total} pass")
  }
}
