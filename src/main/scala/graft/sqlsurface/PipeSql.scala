package graft.sqlsurface

import org.apache.spark.sql.{DataFrame, SparkSession}
import SqlScan.{clauseEnd, closeParen, mask, splitTop, topLevelIndexOf, wordAt}

/** GoogleSQL-style pipe-syntax SQL, the reference's second query language
  * (reference src/compiler/frontend/parser.y:450-566 "GOOLE PIPE syntax",
  * operator set include/lingodb/compiler/frontend/ast/pipe_operator.h:10-26:
  * WHERE, SELECT, JOIN, GROUP_BY/AGGREGATE, sort/limit RESULT_MODIFIERs,
  * UNION/INTERSECT/EXCEPT, FROM, EXTEND, DROP, SET).
  *
  * Spark 4.1 parses the same `|>` operators, so a pipe query is rewritten as
  * text into Spark's pipe grammar (pipes nested in parentheses too) and runs
  * as one `spark.sql` after the [[SqlCanonicalizer]] pass classic SQL gets.
  * Two rules of the reference that Spark lacks are kept:
  *  - Shared FROM scope. Until the first stage that reshapes rows
  *    (AGGREGATE, ORDER BY, LIMIT, a set operation, DROP, SET), the
  *    FROM/JOIN/WHERE/SELECT/EXTEND stages fold into one classic
  *    `SELECT … FROM … WHERE …`, so a WHERE after a SELECT still sees the
  *    FROM clause's aliases; AGGREGATE reads that FROM scope, not a pending
  *    SELECT. A WHERE after a windowed SELECT, and a RIGHT/FULL JOIN after a
  *    WHERE, end the scope instead: folding them would change the rows. So
  *    does a WHERE or AGGREGATE that names a column alias of the pending
  *    SELECT/EXTEND, which only the native stage can see.
  *  - `AGGREGATE … GROUP BY ROLLUP|CUBE(…)`, which Spark's pipe AGGREGATE
  *    rejects, becomes a classic grouped SELECT.
  * A classic head with its own top-level ORDER BY, LIMIT or OFFSET is
  * parenthesized: Spark refuses `|>` after one.
  */
object PipeSql {
  def sql(spark: SparkSession, pipeQuery: String): DataFrame =
    spark.sql(SqlCanonicalizer(translate(pipeQuery)))

  private case class Scope(from: String, wheres: Seq[String] = Nil,
      select: Option[String] = None) {
    // `WHERE ((w))`: `t WHERE (w)` would parse as the alias `WHERE` with a
    // column list
    def render(sel: String): String = s"SELECT $sel FROM $from" +
      (if (wheres.isEmpty) "" else wheres.map(w => s"($w)").mkString(" WHERE (", " AND ", ")"))
  }

  private val joinWords = Set("JOIN", "INNER", "LEFT", "RIGHT", "FULL", "CROSS", "NATURAL")
  private val groupingSetsRe = "(?is)(?:ROLLUP|CUBE)\\s*\\((.*)\\)".r
  private val overRe = "(?i)\\bOVER\\b".r
  private def windowed(sel: String): Boolean = overRe.findFirstIn(mask(sel)).isDefined
  private val aliasRe = "(?is).*\\bAS\\s+(\\w+)\\s*".r

  /** True when `stage` names a column alias (`… AS a`) of `s`'s pending select. */
  private def namesAlias(s: Scope, stage: String): Boolean = s.select.exists { sel =>
    val aliases = splitTop(sel, ",").flatMap(i => aliasRe.unapplySeq(mask(i)).toSeq.flatten)
    aliases.exists(a => s"(?i)\\b$a\\b".r.findFirstIn(mask(stage)).isDefined)
  }

  /** `q` in Spark's pipe grammar; classic SQL without `|>` comes back as is. */
  def translate(q: String): String = {
    val text = translateNested(q, 0)
    val stages = splitTop(text, "|>").map(_.trim)
    if (stages.length == 1) text else fold(stages)
  }

  /** `q` with the body of every parenthesized group at/after `from` translated. */
  private def translateNested(q: String, from: Int): String = {
    val open = mask(q).indexOf('(', from)
    val close = if (open < 0) -1 else closeParen(q, open)
    if (close < 0) q
    else {
      val body = translate(q.substring(open + 1, close))
      translateNested(q.substring(0, open + 1) + body + q.substring(close), open + body.length + 2)
    }
  }

  private def fold(stages: Seq[String]): String = {
    val head = stages.head
    val f = topLevelIndexOf(head, "FROM")
    var scope =
      if (wordAt(mask(head), 0, "FROM")) Some(Scope(head.drop(4).trim))
      else if (wordAt(mask(head), 0, "SELECT") && f > 0 &&
        clauseEnd(head, f, Seq("WHERE")) == head.length)
        Some(Scope(head.substring(f + 4).trim, select = Some(head.substring(6, f).trim)))
      else None
    var out =
      if (Seq("ORDER", "LIMIT", "OFFSET").exists(topLevelIndexOf(head, _) >= 0)) s"($head)"
      else head
    for (stage <- stages.tail) {
      val word = stage.takeWhile(_.isLetter).toUpperCase
      val rest = stage.drop(word.length).trim
      (scope, word) match {
        case (Some(s), "WHERE") if !s.select.exists(windowed) && !namesAlias(s, rest) =>
          scope = Some(s.copy(wheres = s.wheres :+ rest))
        case (Some(s), "SELECT") if s.select.isEmpty => scope = Some(s.copy(select = Some(rest)))
        case (Some(s), "EXTEND") =>
          scope = Some(s.copy(select = Some(s.select.getOrElse("*") + ", " + rest)))
        case (Some(s), j) if joinWords(j) && (s.wheres.isEmpty || !Set("RIGHT", "FULL")(j)) =>
          scope = Some(s.copy(from = s"${s.from} $stage"))
        case _ =>
          val gb = topLevelIndexOf(rest, "GROUP BY")
          val ended = scope.map(s =>
            if (word == "AGGREGATE" && !namesAlias(s, rest)) s.copy(select = None) else s)
          val prefix = ended.fold(out)(s => s.render(s.select.getOrElse("*")))
          out = (word, if (gb < 0) "" else rest.substring(gb + 8).trim) match {
            case ("AGGREGATE", group @ groupingSetsRe(keys)) =>
              val src = ended.filter(_.select.isEmpty).getOrElse(Scope(s"($prefix)"))
              src.render(s"$keys, ${rest.take(gb).trim}") + s" GROUP BY $group"
            case _ => s"$prefix |> $stage"
          }
          scope = None
      }
    }
    scope.fold(out)(s => s.render(s.select.getOrElse("*")))
  }
}

/** Pipe-SQL queries exposed through the driver contract, each with a classic
  * SQL oracle — proving the translation, not just the execution. */
object PipeSqlQueries {
  import graft.Tables
  type Q = (SparkSession, String) => DataFrame

  private def withTables(s: SparkSession, d: String)(q: String): DataFrame = {
    Tables.registerAll(s, d)
    PipeSql.sql(s, q)
  }

  val queries: Map[String, Q] = Map(
    "pipe_filter_agg" -> ((s, d) => withTables(s, d)(
      """FROM lineitem
        ||> WHERE l_quantity >= 45
        ||> JOIN orders ON l_orderkey = o_orderkey
        ||> AGGREGATE count(*) AS n, CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty GROUP BY o_orderpriority
        ||> ORDER BY o_orderpriority""".stripMargin)),

    "pipe_extend_set_drop" -> ((s, d) => withTables(s, d)(
      """FROM region
        ||> EXTEND r_regionkey * 10 AS rk10
        ||> SET r_name = lower(r_name)
        ||> DROP r_regionkey
        ||> ORDER BY rk10""".stripMargin)),

    // RHS filter keeps the result non-empty at every SF (unfiltered,
    // suppliers cover every customer nationkey).
    "pipe_setop" -> ((s, d) => withTables(s, d)(
      """FROM customer
        ||> SELECT CAST(c_nationkey AS BIGINT) AS x
        ||> EXCEPT DISTINCT (SELECT CAST(s_nationkey AS BIGINT) AS x FROM supplier WHERE s_nationkey < 18)
        ||> ORDER BY x""".stripMargin))
  )

  val oracle: Map[String, String] = Map(
    "pipe_filter_agg" ->
      """SELECT o_orderpriority, count(*) AS n,
                CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         WHERE l_quantity >= 45
         GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "pipe_extend_set_drop" ->
      "SELECT lower(r_name) AS r_name, CAST(r_regionkey * 10 AS INTEGER) AS rk10 FROM region ORDER BY rk10",
    "pipe_setop" ->
      """SELECT x FROM (SELECT CAST(c_nationkey AS BIGINT) AS x FROM customer
         EXCEPT SELECT CAST(s_nationkey AS BIGINT) FROM supplier WHERE s_nationkey < 18) t ORDER BY x"""
  )
}
