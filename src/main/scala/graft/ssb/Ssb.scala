package graft.ssb

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.util.Suites

/** Star Schema Benchmark surface: the reference's 13 query texts in BOTH
  * shipped variants — resources/sql/ssb (string dimensions) as `ssb_qNN`,
  * and resources/sql/ssb_simplified (the Crystal GPU library's integer
  * coding) as `ssb2_qNN` — over [[SsbGen]]'s closed-form tables with a
  * DuckDB oracle, same scheme as the TPC-DS and JOB suites. */
object Ssb {

  val qnames: Seq[String] = Seq("11", "12", "13", "21", "22", "23",
    "31", "32", "33", "34", "41", "42", "43")

  def loadQuery(qn: String, simplified: Boolean): String =
    if (simplified)
      graft.util.SqlResources.loadQuery("ssb_simplified", s"$qn.sql", "GRAFT_SSB2_SQL")
    else graft.util.SqlResources.loadQuery("ssb", s"$qn.sql", "GRAFT_SSB_SQL")

  private def prefix(simplified: Boolean): String = if (simplified) "ssb2_" else "ssb_"

  /** Whole-word table rename skipping qualified members (as in Job). `date`
    * must be renamed in table position; `d_date`-style columns are single
    * words and unaffected. */
  private def sqlText(qn: String, simplified: Boolean): String =
    Suites.renameTables(loadQuery(qn, simplified),
      Set("date", "customer", "supplier", "part", "lineorder"), prefix(simplified),
      members = false)

  // ------------------------------------------------------------ registration

  /** Both variants' tables in one set: the parquet dir names carry the
    * variant prefix, so they register under their own names. */
  private val tables = new Suites.TableSet(
    s"${sys.props("java.io.tmpdir")}/graft_ssb_data",
    SsbGen.tables.map { case (n, g) => (s"ssb_$n", g) } ++
      SsbGen.tablesCoded.map { case (n, g) => (s"ssb2_$n", g) },
    "", analyzed = false)

  def ensure(spark: SparkSession): Unit = tables.ensure(spark)

  // ------------------------------------------------------------------ output

  def run(spark: SparkSession, qn: String, simplified: Boolean): DataFrame = {
    ensure(spark)
    Suites.wrap(spark.sql(sqlText(qn, simplified)), Suites.Round3)
  }

  def oracleFor(qn: String, simplified: Boolean, sig: String): String =
    tables.duckDdl(_.startsWith(prefix(simplified))) + "\n" +
      Suites.oracleSelect(sig, Suites.Round3, sqlText(qn, simplified))

  // ------------------------------------------------------- SparkEntry wiring

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    qnames.flatMap(qn => Seq(
      s"ssb_q$qn" -> ((s: SparkSession, _: String) => run(s, qn, simplified = false)),
      s"ssb2_q$qn" -> ((s: SparkSession, _: String) => run(s, qn, simplified = true))
    )).toMap

  def oracle: Map[String, String] =
    SsbSig.sigs.map { case (key, sig) =>
      val simplified = key.startsWith("s")
      val qn = key.stripPrefix("s")
      s"${prefix(simplified)}q$qn" -> oracleFor(qn, simplified, sig)
    }
}
