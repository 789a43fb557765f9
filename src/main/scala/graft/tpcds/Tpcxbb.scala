package graft.tpcds

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.util.Suites

/** TPCx-BB (BigBench) surface: the reference's 14 adapted SQL queries
  * (resources/sql/tpcxbb/{6,7,9,11,12,13,14,15,16,17,21,22,23,24}.sql) over
  * the TPC-DS schema of [[TpcdsGen]] plus the two BigBench extension tables
  * the queries touch (product_reviews, web_clickstreams), closed-form in
  * both dialects with a DuckDB oracle.
  *
  * One documented adaptation: BigBench date_sk literals count days from
  * 1900-01-01 (q12's BETWEEN 37134 AND 37224); the synthetic date_sk space
  * counts from 1998-01-01, so those literals shift by the 35,794-day epoch
  * difference — identically on both compare sides. */
object Tpcxbb {

  val qnames: Seq[String] = Seq("6", "7", "9", "11", "12", "13", "14", "15",
    "16", "17", "21", "22", "23", "24")


  /** days(1900-01-01 → 1998-01-01): 98 years incl. 24 leap days. */
  private val EpochShift = 35794L

  /** Per-query adaptations applied identically to BOTH compare sides:
    *  - q16: `a1` references the 1-row date_bounds CTE laterally from a
    *    sibling FROM item (the reference's planner allows it; neither Spark
    *    nor DuckDB does without LATERAL) — the bounds become scalar
    *    subqueries over the same 1-row CTE, an exact rewrite.
    *  - q24: the probed i_item_sk 10000 is beyond the synthetic item count;
    *    scaled to an existing sk (scale adaptation, like the dsdgen→synthetic
    *    size mapping everywhere else in this suite). */
  private val qfix: Map[String, Seq[(String, String)]] = Map(
    "16" -> Seq(
      "BETWEEN date_bounds.start_sk" -> "BETWEEN (SELECT start_sk FROM date_bounds)",
      "AND date_bounds.end_sk" -> "AND (SELECT end_sk FROM date_bounds)"),
    "24" -> Seq("i.i_item_sk = 10000" -> "i.i_item_sk = 1000"))

  def loadQuery(qn: String): String = {
    val raw = graft.util.SqlResources.loadQuery("tpcxbb", s"$qn.sql", "GRAFT_TPCXBB_SQL")
    val fixed = qfix.getOrElse(qn, Nil)
      .foldLeft(raw) { case (s, (from, to)) => s.replace(from, to) }
    // shift BigBench day-since-1900 date_sk literals into our epoch
    "\\b(3[67]\\d{3})\\b".r.replaceAllIn(fixed,
      m => (m.group(1).toLong - EpochShift).toString)
  }

  // ---------------------------------------------- BigBench extension tables

  import TpcdsGen.{Dia, SparkDia, DuckDia}

  val NWcs = 200000L
  val NPr = 50000L

  private final case class G(d: Dia, tab: String) {
    def u(key: String): String = {
      val salt = (((tab + "." + key).hashCode.toLong & 0x7fffffffL) *
        2654435761L) % 4294967296L
      val a = d.xor("((id * 2654435761) % 4294967296)", salt.toString)
      val b = s"(($a) * 48271 % 2147483647)"
      val c = d.xor(s"($b)", d.shr(s"($b)", 15))
      s"((($c) * 69621) % 2147483647)"
    }
    def ui(key: String, n: Long, off: Long = 0): String =
      s"((${u(key)} % $n) + $off)"
  }

  private def webClickstreams(d: Dia): String = {
    val g = G(d, "web_clickstreams")
    Seq(
      "wcs_click_date_sk" -> g.ui("cd", TpcdsGen.SoldDays),
      "wcs_click_time_sk" -> g.ui("ct", 86400L),
      "wcs_sales_sk" ->
        s"CASE WHEN ${g.u("s0")} % 10 < 7 THEN cast(NULL as bigint) ELSE cast((id + 1) as bigint) END",
      "wcs_item_sk" -> g.ui("it", TpcdsGen.NItem, 1),
      "wcs_web_page_sk" -> g.ui("wp", TpcdsGen.NWp, 1),
      "wcs_user_sk" ->
        s"CASE WHEN ${g.u("u0")} % 10 = 0 THEN cast(NULL as bigint) ELSE cast(${g.ui("us", TpcdsGen.NCust, 1)} as bigint) END")
      .map { case (n, e) => s"$e AS $n" }
      .mkString("SELECT ", ", ", s" FROM ${d.seq(NWcs)}")
  }

  private def productReviews(d: Dia): String = {
    val g = G(d, "product_reviews")
    Seq(
      "pr_review_sk" -> "(id + 1)",
      "pr_review_date" -> d.dateAdd(g.ui("rd", TpcdsGen.SoldDays)),
      "pr_review_time" -> s"(${d.str(g.ui("h", 24))} || ':' || ${d.str(g.ui("mi", 60))})",
      "pr_review_rating" -> g.ui("rt", 5, 1),
      "pr_item_sk" -> g.ui("it", TpcdsGen.NItem, 1),
      "pr_user_sk" -> g.ui("us", TpcdsGen.NCust, 1),
      "pr_order_sk" -> g.ui("or", TpcdsGen.NWs, 1),
      "pr_review_content" -> s"('review text ' || ${d.str(g.u("tx"))})")
      .map { case (n, e) => s"$e AS $n" }
      .mkString("SELECT ", ", ", s" FROM ${d.seq(NPr)}")
  }

  private def itemMarketprices(d: Dia): String = {
    val g = G(d, "item_marketprices")
    val start = g.ui("sd", TpcdsGen.SoldDays - 120)
    Seq(
      "imp_sk" -> "(id + 1)",
      "imp_item_sk" -> g.ui("it", TpcdsGen.NItem, 1),
      "imp_competitor" -> s"('comp ' || ${d.str(g.ui("cp", 20))})",
      "imp_competitor_price" ->
        s"cast((${g.ui("pr", 90000L, 100L)}) * 0.01 as decimal(7,2))",
      "imp_start_date" -> start,
      "imp_end_date" -> s"(($start) + 30 + (${g.u("ed")} % 60))")
      .map { case (n, e) => s"$e AS $n" }
      .mkString("SELECT ", ", ", s" FROM ${d.seq(NImp)}")
  }

  val NImp = 20000L

  val extraTables: Seq[(String, Dia => String)] = Seq(
    "web_clickstreams" -> (webClickstreams _),
    "product_reviews" -> (productReviews _),
    "item_marketprices" -> (itemMarketprices _))

  // ------------------------------------------------------------ registration

  /** The extension tables register under the tpcds_ prefix, beside the
    * TPC-DS tables they join. */
  private val tables = new Suites.TableSet(
    s"${sys.props("java.io.tmpdir")}/graft_tpcxbb_data",
    extraTables, "tpcds_", analyzed = TpcdsGen.Scale > 1)

  def ensure(spark: SparkSession): Unit = {
    Tpcds.ensure(spark)
    tables.ensure(spark)
  }

  // ------------------------------------------------------------------ output

  /** The query texts reference TPC-DS tables plus the extras, all renamed
    * into the tpcds_ prefix by Tpcds' dialect pipeline. */
  private val allNames: Set[String] =
    TpcdsGen.tables.map(_._1).toSet ++ extraTables.map(_._1)

  def run(spark: SparkSession, qn: String): DataFrame = {
    ensure(spark)
    // Spark dialect shims: FLOAT8 type synonym; DuckDB/Postgres-style
    // datediff('unit', a, b) → timestampdiff(UNIT, a, b)
    val text = Tpcds.sparkSqlText(loadQuery(qn), allNames)
      .replaceAll("(?i)\\bFLOAT8\\b", "double")
      .replaceAll("(?i)\\bdatediff\\(\\s*'(\\w+)'\\s*,", "timestampdiff($1,")
    Tpcds.nonAnsi(spark)(Suites.wrap(spark.sql(text), Tpcds.round3))
  }

  def oracleFor(qn: String, sig: String): String =
    Tpcds.tables.duckDdl() + "\n" + tables.duckDdl() + "\n" +
      Suites.oracleSelect(sig, Tpcds.round3, Tpcds.duckSqlText(loadQuery(qn), allNames))

  // ------------------------------------------------------- SparkEntry wiring

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    qnames.map(qn => s"tpcxbb_q$qn" ->
      ((spark: SparkSession, _: String) => run(spark, qn))).toMap

  def oracle: Map[String, String] =
    TpcxbbSig.sigs.map { case (qn, sig) => s"tpcxbb_q$qn" -> oracleFor(qn, sig) }
}

/** Static output signatures (one char per column: d=double, l=long, r=raw)
  * of the TPCx-BB queries; SuiteSpec checks them and prints replacements. */
object TpcxbbSig {
  val sigs: Map[String, String] = Map(
    "6" -> "dlrrrrrr", "7" -> "rl", "9" -> "l", "11" -> "ld", "12" -> "l",
    "13" -> "lrrdd", "14" -> "d", "15" -> "ldd", "16" -> "rrdd",
    "17" -> "ddd", "21" -> "rrrrlll", "22" -> "rrll", "23" -> "llldld",
    "24" -> "ld")
}
