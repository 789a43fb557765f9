package graft.clickbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.util.Suites

/** ClickBench surface: the reference's 43 query texts
  * (resources/sql/clickbench/1.sql..43.sql) over [[ClickbenchGen]]'s
  * closed-form `hits` table with a DuckDB oracle.
  *
  * Two suite-specific mechanisms keep the hash-compare well-defined:
  *
  *  - **Deterministic top-k**: most queries end `ORDER BY c DESC LIMIT 10
  *    [OFFSET n]` — count ties at the cut would let each engine pick a
  *    different (equally correct) row set. The group-by keys (or the unique
  *    WatchID for ungrouped queries) are appended to the ORDER BY on BOTH
  *    sides, a total order that refines, never contradicts, the query's
  *    ordering. Query 18 (GROUP BY ... LIMIT with no ORDER BY at all) gets
  *    an ORDER BY over its keys the same way.
  *  - **Significant-digit normalization**: double outputs round to 10
  *    significant digits (not fixed decimals) on both sides —
  *    AVG(UserID) sums ~2^59 values in engine-specific accumulation orders
  *    whose low-bit drift fixed-decimal rounding can't mask. */
object Clickbench {

  val qnames: Seq[String] = (1 to 43).map(_.toString)

  def loadQuery(qn: String): String =
    graft.util.SqlResources.loadQuery("clickbench", s"$qn.sql", "GRAFT_CB_SQL")

  // --------------------------------------------------------- canonicalization

  private def topLevelIndexOf(text: String, word: String): Int = {
    var d = 0; var inStr = false
    val up = text.toUpperCase
    var i = 0
    while (i < text.length) {
      val c = text.charAt(i)
      if (inStr) { if (c == '\'') inStr = false }
      else c match {
        case '\'' => inStr = true
        case '(' => d += 1
        case ')' => d -= 1
        case _ =>
          if (d == 0 && up.regionMatches(i, word, 0, word.length) &&
            (i == 0 || !text.charAt(i - 1).isLetterOrDigit && text.charAt(i - 1) != '_') &&
            (i + word.length >= text.length || !text.charAt(i + word.length).isLetterOrDigit))
            return i
      }
      i += 1
    }
    -1
  }

  private def splitTopCommas(s: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var depth = 0; var start = 0; var inStr = false
    for (i <- s.indices) s.charAt(i) match {
      case '\'' => inStr = !inStr
      case '(' if !inStr => depth += 1
      case ')' if !inStr => depth -= 1
      case ',' if !inStr && depth == 0 => out += s.substring(start, i); start = i + 1
      case _ =>
    }
    out += s.substring(start)
    out.toSeq.map(_.trim).filter(_.nonEmpty)
  }

  /** Append a refining total-order tiebreak to ORDER BY ... LIMIT queries
    * (identically on both engines — see class doc). */
  private[clickbench] def detOrder(sql: String): String = {
    val limAt = topLevelIndexOf(sql, "LIMIT")
    if (limAt < 0) return sql
    val gAt = topLevelIndexOf(sql, "GROUP")
    val ties: Seq[String] =
      if (gAt >= 0) {
        val gText = sql.substring(gAt)
        val byAt = gText.toUpperCase.indexOf("BY")
        val end = Seq("HAVING", "ORDER", "LIMIT", "OFFSET")
          .map(w => topLevelIndexOf(gText, w)).filter(_ > byAt) match {
          case Nil => gText.length
          case xs => xs.min
        }
        splitTopCommas(gText.substring(byAt + 2, end))
      } else Seq("WatchID")
    val oAt = topLevelIndexOf(sql, "ORDER")
    if (oAt >= 0) {
      val existing = sql.substring(oAt, limAt).toUpperCase
      val missing = ties.filterNot(t => existing.contains(t.toUpperCase))
      if (missing.isEmpty) sql
      else sql.substring(0, limAt) + ", " + missing.mkString(", ") + " " +
        sql.substring(limAt)
    } else {
      sql.substring(0, limAt) + "ORDER BY " + ties.mkString(", ") + " " +
        sql.substring(limAt)
    }
  }

  /** Spark's regexp_replace is Java-regex: group references are $1, not \1. */
  private def sparkRegexFix(sql: String): String =
    sql.replace("'\\1'", "'$1'")

  private def sparkSql(sql: String): String =
    sparkRegexFix(detOrder(sql)).replaceAll("(?i)\\bhits\\b", "cb_hits")

  private def duckSql(sql: String): String =
    detOrder(sql).replaceAll("(?i)\\bhits\\b", "cb_hits")

  // ------------------------------------------------------------ registration

  /** Single-table suite: stats still help selectivity-driven choices past
    * toy scale (see util.CatalogStats). */
  private val tables = new Suites.TableSet(
    s"${sys.props("java.io.tmpdir")}/graft_cb_data" +
      (if (ClickbenchGen.Scale > 1) s"_x${ClickbenchGen.Scale}" else ""),
    Seq("hits" -> (ClickbenchGen.hits _)), "cb_", analyzed = ClickbenchGen.Scale > 1)

  def ensure(spark: SparkSession): Unit = tables.ensure(spark)

  // ------------------------------------------------------------------ output

  /** Round to 10 significant digits via scale-to-integer — expressible
    * identically in both engines (Spark's round() needs a constant scale). */
  private val sigRound: Suites.Rounding = Suites.Rounding(
    c => {
      val d = c.cast("double")
      val p = pow(lit(10.0), floor(log10(abs(d))) - 9)
      when(d.isNull || d === 0.0, d).otherwise(round(d / p) * p)
    },
    c => s"CASE WHEN cast($c as double) IS NULL OR cast($c as double) = 0 " +
      s"THEN cast($c as double) ELSE " +
      s"round(cast($c as double) / pow(10, floor(log10(abs(cast($c as double)))) - 9)) * " +
      s"pow(10, floor(log10(abs(cast($c as double)))) - 9) END")

  /** `SELECT * FROM hits WHERE <pred> ORDER BY <ord> LIMIT <n>` — the q24
    * shape: a wide-row top-k. Spark's TakeOrderedAndProject decodes EVERY
    * projected column for EVERY row just to keep n of them (the three wide
    * string columns dominate: ~9.7 s at ×45 vs DuckDB's 0.8, which
    * late-materializes by rowid). */
  private val wideTopKRe =
    """(?is)^\s*SELECT\s+\*\s+FROM\s+hits\s+WHERE\s+(.+?)\s+ORDER\s+BY\s+([\w\s,."]+?)\s+LIMIT\s+(\d+)\s*;?\s*$""".r

  def run(spark: SparkSession, qn: String): DataFrame = {
    ensure(spark)
    loadQuery(qn) match {
      case wideTopKRe(pred, ord, n) =>
        // Two-phase late materialization (C-Store's technique, the same
        // trade DuckDB's rowid fetch makes): phase 1 ranks on a NARROW scan
        // (predicate + sort + unique-key columns only — the wide strings
        // are never decoded), phase 2 refetches the n winners' full rows
        // keyed by the table's unique row key (WatchID, unique by
        // generation), which reaches the parquet scan as PushedFilters
        // In(WatchID, ...) and prunes to the handful of row groups holding
        // them. The n-key driver hop is the distributed form of the rowid
        // join: bounded by LIMIT, same at any corpus size. WatchID is
        // appended to the sort on BOTH phases and BOTH engines (detOrder
        // does the same for the DuckDB text), so the total order — and the
        // hash-compare — is unchanged.
        val ids = spark.sql(
          s"SELECT WatchID FROM cb_hits WHERE $pred ORDER BY $ord, WatchID LIMIT $n")
          .collect().map(_.get(0).toString)
        val df =
          if (ids.isEmpty) spark.sql("SELECT * FROM cb_hits WHERE 1=0")
          else spark.sql(s"SELECT * FROM cb_hits WHERE WatchID IN (${ids.mkString(",")}) " +
            s"ORDER BY $ord, WatchID LIMIT $n")
        Suites.wrap(df, sigRound)
      case q => Suites.wrap(spark.sql(sparkSql(q)), sigRound)
    }
  }

  def oracleFor(qn: String, sig: String): String =
    tables.duckDdl() + "\n" + Suites.oracleSelect(sig, sigRound, duckSql(loadQuery(qn)))

  // ------------------------------------------------------- SparkEntry wiring

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    qnames.map(qn => s"cb_q$qn" ->
      ((spark: SparkSession, _: String) => run(spark, qn))).toMap

  def oracle: Map[String, String] =
    ClickbenchSig.sigs.map { case (qn, sig) => s"cb_q$qn" -> oracleFor(qn, sig) }
}
