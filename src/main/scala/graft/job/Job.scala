package graft.job

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.util.Suites

/** Join Order Benchmark surface: the reference's 113 query texts
  * (resources/sql/job/1a.sql .. 33c.sql, scored by
  * test/sqlite-datasets/job.test) over [[JobGen]]'s deterministic IMDB
  * schema, with a DuckDB oracle built from the same closed forms.
  *
  * JOB queries are single-row `SELECT MIN(...)` aggregates over 5-17 way
  * equi-join graphs with LIKE-heavy filters — the reference uses them to
  * exercise its DPhyp join-order optimizer
  * (src/compiler/Dialect/RelAlg/Transforms/OptimizeJoinOrder.cpp); here they
  * exercise Catalyst's CBO join reordering + AQE (stats via ANALYZE TABLE,
  * see PlanSpec's stats-flip test).
  */
object Job {

  /** 113 queries: 1a..33c (families of 2-4 variants). */
  val qnames: Seq[String] = {
    val variants = Map(
      1 -> "abcd", 2 -> "abcd", 3 -> "abc", 4 -> "abc", 5 -> "abc",
      6 -> "abcdef", 7 -> "abc", 8 -> "abcd", 9 -> "abcd", 10 -> "abc",
      11 -> "abcd", 12 -> "abc", 13 -> "abcd", 14 -> "abc", 15 -> "abcd",
      16 -> "abcd", 17 -> "abcdef", 18 -> "abc", 19 -> "abcd", 20 -> "abc",
      21 -> "abc", 22 -> "abcd", 23 -> "abc", 24 -> "ab", 25 -> "abc",
      26 -> "abc", 27 -> "abc", 28 -> "abc", 29 -> "abc", 30 -> "abc",
      31 -> "abc", 32 -> "ab", 33 -> "abc")
    (1 to 33).flatMap(i => variants(i).map(v => s"$i$v"))
  }

  def loadQuery(qn: String): String =
    graft.util.SqlResources.loadQuery("job", s"$qn.sql", "GRAFT_JOB_SQL")

  /** Prefix JOB table identifiers with job_ (outside string literals).
    * Unlike TPC-DS, the IMDB schema reuses table names as COLUMN names
    * (`n.name`, `t.title`, `k.keyword`, `lt.link`) — qualified members are
    * column references, never table references, so they are left alone.
    * Unqualified column references don't occur in the 113 query texts
    * (every column is alias-qualified). */
  private def renameTables(sql: String): String =
    Suites.renameTables(sql, JobGen.tables.map(_._1).toSet, "job_", members = false)

  // ------------------------------------------------------------ registration

  private val tables = new Suites.TableSet(
    s"${sys.props("java.io.tmpdir")}/graft_job_data" +
      (if (JobGen.Scale > 1) s"_x${JobGen.Scale}" else ""),
    JobGen.tables, "job_", analyzed = JobGen.Scale > 1)

  def ensure(spark: SparkSession): Unit = tables.ensure(spark)

  // ------------------------------------------------------------------ output

  def run(spark: SparkSession, qn: String): DataFrame = {
    ensure(spark)
    Suites.wrap(spark.sql(renameTables(loadQuery(qn))), Suites.Round3)
  }

  def oracleFor(qn: String, sig: String): String =
    tables.duckDdl() + "\n" + Suites.oracleSelect(sig, Suites.Round3, renameTables(loadQuery(qn)))

  // ------------------------------------------------------- SparkEntry wiring

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    qnames.map(qn => s"job_q$qn" ->
      ((spark: SparkSession, _: String) => run(spark, qn))).toMap

  def oracle: Map[String, String] =
    JobSig.sigs.map { case (qn, sig) => s"job_q$qn" -> oracleFor(qn, sig) }
}
