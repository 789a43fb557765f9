package graft.sqlsurface

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.expr
import SqlScan.{closeParen, splitTop, topLevelIndexOf}

/** GoogleSQL-style pipe-syntax SQL, the reference's second query language
  * (reference src/compiler/frontend/parser.y:450-566 "GOOLE PIPE syntax",
  * operator set include/lingodb/compiler/frontend/ast/pipe_operator.h:10-26:
  * WHERE, SELECT, JOIN, GROUP_BY/AGGREGATE, sort/limit RESULT_MODIFIERs,
  * UNION/INTERSECT/EXCEPT, FROM, EXTEND, DROP, SET).
  *
  * Spark has no pipe syntax, so each stage is folded left-to-right into the
  * running DataFrame: SQL-fragment stages go through spark.sql over a unique
  * temp view of the previous stage (Catalyst parses the expressions — we never
  * re-implement an expression grammar), structural stages (EXTEND/DROP/SET)
  * use the DataFrame API directly. The fold IS the pipe semantics: each
  * operator sees exactly the previous operator's output relation.
  */
object PipeSql {
  private val viewCounter = new AtomicInteger(0)

  /** Pending relational context: a growing FROM clause (+ WHERE conjuncts)
    * whose table aliases must stay visible to later stages — collapsing to a
    * subquery too early would lose `v.sws`-style qualified references
    * (the reference keeps aliases visible across pipe stages). */
  private case class Pending(from: String, wheres: Seq[String],
      select: Option[String] = None) {
    def sqlFrom: String =
      s"FROM $from" + (if (wheres.isEmpty) "" else s" WHERE ${wheres.map(w => s"($w)").mkString(" AND ")}")
    def sqlSelect: String = s"SELECT ${select.getOrElse("*")} $sqlFrom"
  }

  def sql(spark: SparkSession, pipeQuery: String): DataFrame = {
    val stages = splitTop(inlineNestedPipes(pipeQuery.trim), "|>")
    require(stages.nonEmpty, "empty pipe query")
    val headSql = stages.head.trim
    val head: Either[Pending, DataFrame] =
      if (headSql.toUpperCase.startsWith("FROM")) Left(Pending(headSql.drop(4).trim, Nil))
      else {
        // plain SELECT head is allowed (parser.y:551); keep its FROM clause
        // pending so later stages still see the table aliases
        val fromIdx = topLevelIndexOf(headSql, "FROM")
        if (headSql.toUpperCase.startsWith("SELECT") && fromIdx > 0)
          Left(Pending(headSql.substring(fromIdx + 4).trim, Nil,
            Some(headSql.substring(6, fromIdx).trim)))
        else Right(spark.sql(headSql))
      }
    val out = stages.tail.foldLeft(head)((st, stage) => applyStage(spark, st, stage.trim))
    materialize(spark, out)
  }

  private def materialize(spark: SparkSession, st: Either[Pending, DataFrame]): DataFrame =
    st match {
      case Right(df) => df
      case Left(p) => spark.sql(p.sqlSelect)
    }

  private def applyStage(spark: SparkSession, st: Either[Pending, DataFrame],
      stage: String): Either[Pending, DataFrame] = {
    val up = stage.toUpperCase
    lazy val df = materialize(spark, st)
    def view(): String = {
      val v = s"__pipe_${viewCounter.incrementAndGet()}"
      df.createOrReplaceTempView(v)
      v
    }
    // FROM-context form of the current state (aliases preserved if pending)
    def fromCtx: Pending = st match {
      case Left(p) => p
      case Right(_) => Pending(view(), Nil)
    }
    // context for stages that must see the raw FROM scope (JOIN): a pending
    // projection is kept pending — reference scoping resolves against tables
    def joinCtx: Pending = fromCtx
    val joinRe = "(?is)^((?:LEFT|RIGHT|FULL|INNER|CROSS)(?:\\s+OUTER)?\\s+)?JOIN\\s+(.*)$".r
    up match {
      case s if s.startsWith("WHERE") =>
        val p = fromCtx
        Left(p.copy(wheres = p.wheres :+ stage.drop(5).trim))
      case s if s.startsWith("SELECT") =>
        val p = fromCtx
        if (p.select.isEmpty) Left(p.copy(select = Some(stage.drop(6).trim)))
        else Right(spark.sql(s"SELECT ${stage.drop(6)} FROM ${view()}"))
      case s if s.startsWith("ORDER BY") =>
        val p = fromCtx
        Right(try spark.sql(s"${p.sqlSelect} ORDER BY ${stage.drop(8)}")
        catch { case _: org.apache.spark.sql.AnalysisException =>
          // post-aggregate ORDER BY may still use pre-aggregate qualifiers
          spark.sql(s"${p.sqlSelect} ORDER BY ${stripQualifiers(stage.drop(8))}")
        })
      case s if s.startsWith("LIMIT") =>
        Right(spark.sql(s"${fromCtx.sqlSelect} LIMIT ${stage.drop(5)}"))
      case s if s.startsWith("AGGREGATE") =>
        val rest = stage.drop(9)
        // AGGREGATE <aggs with aliases> [GROUP BY <keys with aliases>]
        val gbIdx = topLevelIndexOf(rest, "GROUP BY")
        if (gbIdx < 0) Right(spark.sql(s"SELECT ${rest.trim} ${fromCtx.sqlFrom}"))
        else {
          val aggs = rest.substring(0, gbIdx).trim.stripSuffix(",")
          val keys = splitTop(rest.substring(gbIdx + 8).trim, ",").map(_.trim)
          val rollupRe = "(?is)^\\s*(ROLLUP|CUBE)\\s*\\((.*)\\)\\s*$".r
          keys match {
            // GROUP BY ROLLUP(x,y) / CUBE(x,y): grouping columns are the
            // INNER exprs; the grouping-set operator stays in GROUP BY only
            case Seq(rollupRe(kind, inner)) =>
              Right(spark.sql(
                s"SELECT ${inner.trim}, $aggs ${fromCtx.sqlFrom} " +
                  s"GROUP BY $kind(${inner.trim})"))
            case _ =>
              // keys may carry aliases: SELECT uses the aliased form,
              // GROUP BY the bare expr
              val keyExprs = keys.map(k => "(?is)\\s+AS\\s+\\w+\\s*$".r.replaceAllIn(k, ""))
              Right(spark.sql(
                s"SELECT ${keys.mkString(", ")}, $aggs ${fromCtx.sqlFrom} " +
                  s"GROUP BY ${keyExprs.mkString(", ")}"))
          }
        }
      case s if s.startsWith("EXTEND") =>
        st match {
          case Left(p) =>
            Left(p.copy(select = Some(s"${p.select.getOrElse("*")}, ${stage.drop(6).trim}")))
          case Right(_) =>
            Right(df.selectExpr("*" +: splitTop(stage.drop(6), ",").map(_.trim): _*))
        }
      case s if s.startsWith("DROP") =>
        Right(df.drop(splitTop(stage.drop(4), ",").map(_.trim): _*))
      case s if s.startsWith("SET") =>
        Right(splitTop(stage.drop(3), ",").foldLeft(df) { (d, assign) =>
          val Array(name, rhs) = assign.split("=", 2)
          d.withColumn(name.trim, expr(rhs.trim))
        })
      case s if s.startsWith("UNION") || s.startsWith("INTERSECT") || s.startsWith("EXCEPT") =>
        val (op, rest0) =
          if (s.startsWith("UNION")) ("union", stage.drop(5))
          else if (s.startsWith("INTERSECT")) ("intersect", stage.drop(9))
          else ("except", stage.drop(6))
        val restUp = rest0.trim.toUpperCase
        val (all, subSql) =
          if (restUp.startsWith("ALL")) (true, rest0.trim.drop(3).trim)
          else if (restUp.startsWith("DISTINCT")) (false, rest0.trim.drop(8).trim)
          else (false, rest0.trim)
        val inner = stripParens(subSql)
        val other = if (containsTop(inner, "|>")) sql(spark, inner) else spark.sql(inner)
        Right((op, all) match {
          case ("union", true)      => df.unionAll(other)
          case ("union", false)     => df.union(other).distinct()
          case ("intersect", true)  => df.intersectAll(other)
          case ("intersect", false) => df.intersect(other)
          case ("except", true)     => df.exceptAll(other)
          case ("except", false)    => df.except(other)
          case unexpected => throw new IllegalStateException(
            s"unreachable set-op combination: $unexpected") // op is one of the three literals above
        })
      case _ => joinRe.findFirstMatchIn(stage) match {
        case Some(m) =>
          val jt = Option(m.group(1)).map(_.trim + " ").getOrElse("")
          val p = fromCtx
          // grow the FROM clause so earlier table aliases stay referencable
          Left(p.copy(from = s"${p.from} ${jt}JOIN ${m.group(2)}"))
        case None =>
          throw new IllegalArgumentException(s"unsupported pipe operator: $stage")
      }
    }
  }

  /** `a.b` → `b` outside string literals (post-projection re-resolution). */
  private def stripQualifiers(s: String): String =
    SqlScan.splice(s, "\\b\\w+\\.(\\w+)\\b".r.findAllMatchIn(SqlScan.mask(s))
      .map(m => (m.start, m.end, m.group(1))).toSeq)

  /** Rewrite innermost parenthesized pipe fragments `( from t |> ... )` into
    * classic SQL subqueries so they can appear inside expressions
    * (EXISTS/IN — the reference allows pipe syntax anywhere a subquery is
    * legal, pipe_sql_with_parens parser.y:465-468). */
  private[sqlsurface] def inlineNestedPipes(q: String): String = {
    val m = SqlScan.mask(q)
    m.indices.iterator.filter(m.charAt(_) == '(').flatMap { open =>
      val close = closeParen(q, open)
      val inner = if (close > 0) m.substring(open + 1, close) else ""
      if (!inner.contains("(") && inner.trim.toUpperCase.startsWith("FROM") &&
        splitTop(inner, "|>").length > 1)
        assembleSql(q.substring(open + 1, close)).map(sqlText =>
          q.substring(0, open) + s"($sqlText)" + q.substring(close + 1))
      else None
    }.nextOption().fold(q)(inlineNestedPipes)
  }

  /** Pure-SQL assembly of a simple pipe chain (FROM/JOIN/WHERE/SELECT/ORDER
    * BY/LIMIT only); None if a stage needs DataFrame-level handling. */
  private def assembleSql(pipe: String): Option[String] = {
    val stages = splitTop(pipe.trim, "|>").map(_.trim)
    if (!stages.head.toUpperCase.startsWith("FROM")) return None
    var from = stages.head.drop(4).trim
    var select = "*"
    val wheres = Seq.newBuilder[String]
    var suffix = ""
    val joinRe = "(?is)^((?:LEFT|RIGHT|FULL|INNER|CROSS)(?:\\s+OUTER)?\\s+)?JOIN\\s+(.*)$".r
    for (st <- stages.tail) {
      val up = st.toUpperCase
      if (up.startsWith("WHERE")) wheres += st.drop(5).trim
      else if (up.startsWith("SELECT")) select = st.drop(6).trim
      else if (up.startsWith("ORDER BY") || up.startsWith("LIMIT")) suffix += " " + st
      else joinRe.findFirstMatchIn(st) match {
        case Some(m) =>
          from += " " + Option(m.group(1)).map(_.trim + " ").getOrElse("") + "JOIN " + m.group(2)
        case None => return None
      }
    }
    val ws = wheres.result()
    val whereSql = if (ws.isEmpty) "" else s" WHERE ${ws.map(w => s"($w)").mkString(" AND ")}"
    Some(s"SELECT $select FROM $from$whereSql$suffix")
  }

  private def containsTop(s: String, delim: String): Boolean = splitTop(s, delim).length > 1

  private def stripParens(s: String): String = {
    val t = s.trim
    // only strip parens that wrap the whole string
    if (t.startsWith("(") && closeParen(t, 0) == t.length - 1) t.substring(1, t.length - 1) else t
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
