package graft.tpcds

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.sqlsurface.SqlCanonicalizer
import graft.util.Suites
import org.apache.spark.sql.functions.floor

/** TPC-DS query surface: runs the reference's 99 benchmark queries
  * (reference resources/sql/tpcds/<n>.sql, scored by
  * test/sqlite-datasets/tpcdsSf1.test) over the deterministic closed-form
  * dataset of [[TpcdsGen]], with a DuckDB oracle built from the same
  * closed forms. Fractional outputs round to 3 decimals (the reference
  * harness's `precision=3 roundfloats` for this suite) with a shifted tie
  * boundary, see [[round3]].
  */
object Tpcds {

  /** Query files shipped by the reference; 14/23/24/39 are two-part. */
  val qnames: Seq[String] = (1 to 99).flatMap { i =>
    if (Set(14, 23, 24, 39)(i)) Seq(s"${i}a", s"${i}b") else Seq(i.toString)
  }

  def loadQuery(qn: String): String =
    graft.util.SqlResources.loadQuery("tpcds", qn)

  // -------------------------------------------------------- canonicalization

  private val tableNames: Set[String] = TpcdsGen.tables.map(_._1).toSet

  /** Spark dialect over the table names `names`, each renamed to a tpcds_
    * prefix (outside literals and comments): the plain names collide with the
    * TPC-H tables — `customer` exists in both schemas — on the
    * shared Spark session and in the oracle's DuckDB catalog. Qualified
    * members are renamed too: a column alias can shadow a table name (q49
    * aliases a column `item`). TPC-DS double-quotes identifiers (e.g.
    * `as "30 days"`); Spark wants backticks. ORDER BY gets the Postgres null
    * ordering the reference (and DuckDB) default to — Spark's NULLS FIRST
    * default would select different LIMIT-100 windows on the ROLLUP
    * queries. Dialect type names (`sm::FLOAT8`) take the engine's own pass
    * ([[SqlCanonicalizer.canonTypes]]); `expr::type` casts stay, Spark and
    * DuckDB both parse them. Tpcxbb shares this pipeline with an extended
    * name set. */
  private[tpcds] def sparkSqlText(sql: String, names: Set[String]): String =
    SqlCanonicalizer.pgNullOrder(SqlCanonicalizer.canonTypes(duckSqlText(sql, names)
      .replaceAll("\"([^\"]+)\"", "`$1`")))

  private[tpcds] def duckSqlText(sql: String, names: Set[String]): String =
    Suites.renameTables(sql, names, "tpcds_", members = true)

  /** Duck-only text fixes: ORDER BY disambiguations (DuckDB binds ORDER BY
    * names in the input scope, ambiguously, Spark against the output
    * columns; the picked column is join/group-equal to every alternative,
    * so semantics match), and trunc() before the integer casts of
    * fractional values in q54 and q78, which DuckDB rounds where Spark and
    * the reference's fptosi truncate toward zero. */
  private val duckFixups: Map[String, Seq[(String, String)]] = Map(
    "58" -> Seq("order by item_id" -> "order by ss_items.item_id"),
    "72" -> Seq("w_warehouse_name, d_week_seq" -> "w_warehouse_name, d1.d_week_seq"),
    "54" -> Seq("cast((revenue/50) as int)" -> "cast(trunc(revenue/50) as int)"),
    "78" -> Seq("round(ss_qty/(coalesce(ws_qty,0)+coalesce(cs_qty,0)),2)::integer" ->
      "trunc(round(ss_qty/(coalesce(ws_qty,0)+coalesce(cs_qty,0)),2))::integer"))

  private def duckSql(qn: String, sql: String): String =
    duckSqlText(duckFixups.getOrElse(qn, Nil)
      .foldLeft(sql) { case (s, (from, to)) => s.replace(from, to) }, tableNames)

  // ------------------------------------------------------------ registration

  private[tpcds] val tables = new Suites.TableSet(
    s"${sys.props("java.io.tmpdir")}/graft_tpcds_data" +
      (if (TpcdsGen.Scale > 1) s"_x${TpcdsGen.Scale}" else ""),
    TpcdsGen.tables, "tpcds_", analyzed = TpcdsGen.Scale > 1)

  def ensure(spark: SparkSession): Unit = tables.ensure(spark)

  // ------------------------------------------------------------------ output

  /** 3-decimal normalization with the tie boundary shifted by 1e-4:
    * money averages concentrate EXACTLY on .0005 boundaries, where Spark's
    * exact-decimal aggregation and DuckDB's double accumulation land on
    * opposite sides of HALF_UP (q89 hit this) — floor(x·1000 + 0.5001)
    * moves the cut to an unnatural value and is applied verbatim on both
    * compare sides, so it cancels in the hash. */
  private[tpcds] val round3: Suites.Rounding = Suites.Rounding(
    c => floor(c.cast("double") * 1000 + 0.5001) / 1000,
    c => s"floor(cast($c as double) * 1000 + 0.5001) / 1000")

  /** Build `body` with ansi=false, so x/0 yields NULL as in DuckDB; the
    * frame is analyzed before the conf is restored. */
  private[tpcds] def nonAnsi(spark: SparkSession)(body: => DataFrame): DataFrame = {
    val prev = spark.conf.getOption("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try {
      val out = body
      out.queryExecution.analyzed
      out
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.ansi.enabled", v)
      case None    => spark.conf.unset("spark.sql.ansi.enabled")
    }
  }

  def run(spark: SparkSession, qn: String): DataFrame = {
    ensure(spark)
    nonAnsi(spark) {
      Suites.wrap(spark.sql(sparkSqlText(loadQuery(qn), tableNames)), round3)
    }
  }

  def oracleFor(qn: String, sig: String): String =
    tables.duckDdl() + "\n" + Suites.oracleSelect(sig, round3, duckSql(qn, loadQuery(qn)))

  // ------------------------------------------------------- SparkEntry wiring

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    qnames.map(qn => s"tpcds_q$qn" ->
      ((spark: SparkSession, _: String) => run(spark, qn))).toMap

  def oracle: Map[String, String] =
    TpcdsSig.sigs.map { case (qn, sig) => s"tpcds_q$qn" -> oracleFor(qn, sig) }
}
