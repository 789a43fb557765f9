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
    graft.util.SqlResources.loadQuery("tpcds", s"$qn.sql", "GRAFT_TPCDS_SQL")

  // -------------------------------------------------------- canonicalization

  /** Rewrite Postgres-style `expr::type` casts to portable cast(expr as t).
    * With `truncInt` (the DuckDB side), double→integer casts truncate toward
    * zero via trunc(), matching Spark and the reference's C++ fptosi
    * semantics; DuckDB alone rounds to nearest on that cast. */
  private[tpcds] def uncolon(sql: String, truncInt: Boolean = false): String = {
    val idx = sql.indexOf("::")
    if (idx < 0) return sql
    var t = idx + 2
    while (t < sql.length && sql.charAt(t).isWhitespace) t += 1
    val tStart = t
    while (t < sql.length && (sql.charAt(t).isLetterOrDigit || sql.charAt(t) == '_')) t += 1
    val typ = sql.substring(tStart, t)
    var i = idx - 1
    while (i >= 0 && sql.charAt(i).isWhitespace) i -= 1
    val end = i
    var start = 0
    if (i >= 0 && sql.charAt(i) == ')') {
      var depth = 0
      var j = i
      var done = false
      while (j >= 0 && !done) {
        val c = sql.charAt(j)
        if (c == ')') depth += 1
        else if (c == '(') { depth -= 1; if (depth == 0) done = true }
        if (!done) j -= 1
      }
      j -= 1 // move before '('
      while (j >= 0 && (sql.charAt(j).isLetterOrDigit || sql.charAt(j) == '_')) j -= 1
      start = j + 1
    } else {
      var j = i
      while (j >= 0 && (sql.charAt(j).isLetterOrDigit || sql.charAt(j) == '_' || sql.charAt(j) == '.')) j -= 1
      start = j + 1
    }
    val expr = sql.substring(start, end + 1)
    val body =
      if (truncInt && Set("integer", "int", "bigint")(typ.toLowerCase))
        s"cast(trunc($expr) as $typ)"
      else s"cast($expr as $typ)"
    uncolon(sql.substring(0, start) + body + sql.substring(t), truncInt)
  }

  private val tableNames: Set[String] = TpcdsGen.tables.map(_._1).toSet

  /** Spark dialect over the table names `names`, each renamed to a tpcds_
    * prefix (outside string literals): the plain names collide with the
    * TPC-H tables — `customer` exists in both schemas — on the
    * shared Spark session and in the oracle's DuckDB catalog. Qualified
    * members are renamed too: a column alias can shadow a table name (q49
    * aliases a column `item`). TPC-DS double-quotes identifiers (e.g.
    * `as "30 days"`); Spark wants backticks. ORDER BY gets the Postgres null
    * ordering the reference (and DuckDB) default to — Spark's NULLS FIRST
    * default would select different LIMIT-100 windows on the ROLLUP
    * queries. Tpcxbb shares this pipeline with an extended name set. */
  private[tpcds] def sparkSqlText(sql: String, names: Set[String]): String =
    SqlCanonicalizer.pgNullOrder(Suites.renameTables(uncolon(sql), names, "tpcds_",
      members = true).replaceAll("\"([^\"]+)\"", "`$1`"))

  private[tpcds] def duckSqlText(sql: String, names: Set[String]): String =
    Suites.renameTables(uncolon(sql, truncInt = true), names, "tpcds_", members = true)

  /** Duck-only ORDER BY disambiguations: DuckDB binds ORDER BY names in the
    * input scope (ambiguous), Spark against the output columns; the picked
    * column is join/group-equal to every alternative, so semantics match. */
  private val duckFixups: Map[String, Seq[(String, String)]] = Map(
    "58" -> Seq("order by item_id" -> "order by ss_items.item_id"),
    "72" -> Seq("w_warehouse_name, d_week_seq" -> "w_warehouse_name, d1.d_week_seq"),
    // DuckDB rounds on numeric→int casts where Spark (and the reference's
    // fptosi) truncates; same rewrite uncolon() applies to `::int` casts.
    "54" -> Seq("cast((revenue/50) as int)" -> "cast(trunc(revenue/50) as int)"))

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
