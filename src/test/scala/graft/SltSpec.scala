package graft

import graft.slt.SltRunner

/** The engine runs the reference's own sqllogictest corpora (SURVEY §5 / M0).
  * The corpora are vendored under src/test/resources/slt so the suite is
  * self-contained; a missing file fails the test.
  *
  * The full ~13.5k-statement sqlite corpus is CI-locked by a per-file exact
  * count on select1 (the sampled subset) plus GRAFT_SLT_FULL=1 for the whole
  * corpus (too slow for every `sbt test`).
  */
class SltSpec extends SparkSpec {

  private def corpus(rel: String): String = {
    val url = getClass.getResource(s"/slt/$rel")
    require(url != null, s"vendored corpus file slt/$rel is missing")
    java.nio.file.Paths.get(url.toURI).toString
  }

  private def run(name: String) =
    SltRunner.runFile(spark, corpus(s"sqlite-small/$name"))

  test("groupby.test: full pass") { val r = run("groupby.test"); assert(r.failed == 0, r.failures) }
  test("setops.test: full pass") { val r = run("setops.test"); assert(r.failed == 0, r.failures) }
  test("join.test: full pass") { val r = run("join.test"); assert(r.failed == 0, r.failures) }
  test("udf.test: full pass") { val r = run("udf.test"); assert(r.failed == 0, r.failures) }
  test("uni.test: full pass") { val r = run("uni.test"); assert(r.failed == 0, r.failures) }

  test("unnesting.test: full pass (decorrelation rule + SQL adapters)") {
    val r = run("unnesting.test")
    assert(r.failed == 0, s"${r.passed}/${r.total}: ${r.failures.take(3)}")
  }

  test("python-udfs.test: full pass (interpreted LANGUAGE python)") {
    val r = SltRunner.runFile(spark, corpus("sqlite-small-python/python-udfs.test"))
    assert(r.failed == 0, s"${r.passed}/${r.total}: ${r.failures.take(3)}")
  }

  test("sqlite select corpus: select1.test exact count (sampled CI lock)") {
    val r = SltRunner.runFile(spark, corpus("sqlite/select1.test"))
    assert(r.failed == 0 && r.passed == 1031, s"${r.passed}/${r.total}: ${r.failures.take(3)}")
  }

  // Full 13,522-statement corpus — run with GRAFT_SLT_FULL=1 sbt test.
  if (sys.env.get("GRAFT_SLT_FULL").contains("1"))
    test("sqlite select corpus: full 13,522/13,522") {
      val files = Seq("select1.test", "select2.test", "select3.test", "select4.test",
        "select5-1.test", "select5-2.test", "select5-3.test", "select5-4.test",
        "select5-5.test")
      val rs = files.map(f => SltRunner.runFile(spark, corpus(s"sqlite/$f")))
      val passed = rs.map(_.passed).sum
      val failed = rs.map(_.failed).sum
      assert(failed == 0 && passed == 13522,
        s"passed=$passed failed=$failed; ${rs.flatMap(_.failures).take(3)}")
    }

  test("COPY-then-COPY appends into a declared table (SLT block)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_slt_copy")
    java.nio.file.Files.writeString(dir.resolve("people.csv"), "1,ada\n2,grace\n")
    val slt =
      s"""statement ok
         |CREATE TABLE people (id INT, name VARCHAR(20))
         |
         |statement ok
         |COPY people FROM '${dir.resolve("people.csv")}' (FORMAT csv, DELIMITER ',')
         |
         |statement ok
         |COPY people FROM '${dir.resolve("people.csv")}' (FORMAT csv, DELIMITER ',')
         |
         |query IT rowsort
         |SELECT id, name FROM people
         |----
         |1
         |ada
         |1
         |ada
         |2
         |grace
         |2
         |grace
         |""".stripMargin
    val f = dir.resolve("copy_append.test")
    java.nio.file.Files.writeString(f, slt)
    val r = SltRunner.runFile(spark, f.toString)
    assert(r.failed == 0, r.failures)
  }
}
