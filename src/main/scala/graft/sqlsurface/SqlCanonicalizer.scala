package graft.sqlsurface

import SqlScan.{closeParen, declaredNames, fromKeywords, mask, selectBlocks, topLevelHits,
  topLevelIndexOf, wordAfter}

/** Engine-side SQL canonicalization: source-level rewrites that widen the
  * accepted SQL surface beyond what Catalyst resolves, applied by
  * [[GraftSql]] to every statement BEFORE `spark.sql` — the Spark analog of
  * the reference's SQL canonicalization inside the engine front-end
  * (reference src/compiler/frontend/SQL/sql_analyzer.cpp; general unnesting
  * in Transforms/Unnesting.cpp). This package is the only place that
  * rewrites dialect text: the Postgres/DuckDB type synonyms ([[canonTypes]])
  * serve GraftSql, CREATE FUNCTION signatures and the suites' Spark texts
  * alike, and the sqllogictest harness ([[graft.slt.SltRunner]]) keeps only
  * the column-level PRIMARY KEY strip.
  *
  * Every rewrite finds its offsets through [[SqlScan]] on the literal-masked
  * text and slices the original by them, so no rewrite fires inside a string
  * literal, a quoted identifier or a comment.
  *
  * The rewrites are exact (algebraic identities / scope hoists), not
  * approximations; [[graft.plans.DecorrelateComplexAggs]] handles the
  * plan-level remainder after analysis.
  */
object SqlCanonicalizer {

  /** Full pipeline, cheap no-op for SQL without subqueries. */
  def apply(sql: String): String =
    rewriteNoFromScalar(flattenDivision(hoistDeepCorrelation(
      boolScalarFilterToExists(cmpScalarSubqueriesToFrom(decomposeOuterAggs(
        joinOnSubqueryToWhere(existsNoFromToTrue(
          quantifiedCmp(canonTypes(sql))))))))))

  /** Postgres/DuckDB type names by their Spark name (Spark's parser reads
    * only REAL of them); CHAR and VARCHAR only bare (no length). The one
    * synonym table:
    * [[canonTypes]] applies it to statements, [[UdfSurface]] to CREATE
    * FUNCTION signatures. */
  private val typeSynonyms = Map(
    "int2" -> "smallint", "int4" -> "int", "int8" -> "bigint",
    "float4" -> "float", "real" -> "float", "float8" -> "double",
    "text" -> "string", "bool" -> "boolean", "char" -> "string", "varchar" -> "string")

  private val bareTypeRe = "(?i)(\\w+)\\b(?!\\s*\\()".r
  /** FLOAT(p), the SQL-standard binary-precision spec Spark's parser
    * rejects: p <= 24 is single precision, larger is double (Postgres rule;
    * the reference parser accepts it, test/lit/SQL/syntax.sql). */
  private val floatPRe = "(?i)float\\s*\\(\\s*(\\d+)\\s*\\)".r

  /** The Spark spelling of the type name at `pos` of masked `m` as a splice
    * span, or None when Spark parses it as written. */
  private def typeSpan(m: String, pos: Int): Option[(Int, Int, String)] = {
    val rest = m.substring(pos)
    floatPRe.findPrefixMatchOf(rest)
      .map(f => (f.end, if (f.group(1).toInt <= 24) "float" else "double"))
      .orElse(bareTypeRe.findPrefixMatchOf(rest)
        .flatMap(w => typeSynonyms.get(w.group(1).toLowerCase).map((w.end, _))))
      .map { case (len, spark) => (pos, pos + len, spark) }
  }

  private def skipSpace(m: String, i: Int): Int =
    m.indexWhere(!_.isWhitespace, i) match { case -1 => m.length; case j => j }

  /** Where each element's type starts in the column list `m(from until
    * until)` (`name type ...`, comma-separated): the word after the column
    * name, which may be quoted. */
  private def columnTypes(m: String, from: Int, until: Int): Seq[Int] = {
    val list = m.substring(from, until)
    (-1 +: topLevelHits(list)(list.charAt(_) == ',')).map { comma =>
      val name = skipSpace(list, comma + 1)
      val nameEnd =
        if (name < list.length && "\"`".contains(list.charAt(name)))
          list.indexOf(list.charAt(name), name + 1) + 1
        else list.indexWhere(c => !c.isLetterOrDigit && c != '_', name)
      from + skipSpace(list, if (nameEnd <= 0) list.length else nameEnd)
    }
  }

  private val createTableRe =
    "(?is)^\\s*CREATE\\s+TABLE\\s+(?:IF\\s+NOT\\s+EXISTS\\s+)?[\\w.\"`]+\\s*\\(".r

  /** Type positions of masked `m`: after `::`, after the AS of a
    * CAST(/TRY_CAST(, and in the column list of a plain CREATE TABLE
    * (never a CTAS: a paren group followed by AS is a column-alias list).
    * An alias (`SELECT 1 AS real`) or a cast function (`SELECT float(30)`)
    * is not a type position. */
  private def typePositions(m: String): Seq[Int] = {
    val afterColons = "::".r.findAllMatchIn(m).map(c => skipSpace(m, c.end))
    val castAs = "(?i)\\b(?:TRY_)?CAST\\s*\\(".r.findAllMatchIn(m).flatMap { c =>
      Some(topLevelIndexOf(m, "AS", c.end)).filter(_ >= 0).map(as => skipSpace(m, as + 2))
    }
    val columns = createTableRe.findPrefixMatchOf(m).toSeq.flatMap { c =>
      val close = closeParen(m, c.end - 1)
      if (close > 0 && wordAfter(m, close + 1) != "AS") columnTypes(m, c.end, close)
      else Nil
    }
    (afterColons ++ castAs ++ columns).toSeq.distinct
  }

  /** Dialect type names in type positions ([[typePositions]]) rewritten to
    * Spark's through the one synonym table, on the literal-masked text:
    * `2::int4`, `CAST(1.5 AS float8)`, `CREATE TABLE t (a text, b varchar,
    * c float(30))`. The suites' Spark texts take this pass too. */
  def canonTypes(sql: String): String = {
    val m = mask(sql)
    SqlScan.splice(sql, typePositions(m).flatMap(typeSpan(m, _)))
  }

  /** One type name (a CREATE FUNCTION return type) in Spark's spelling. */
  def canonType(t: String): String = {
    val m = mask(t)
    SqlScan.splice(t, typeSpan(m, skipSpace(m, 0)).toSeq)
  }

  /** A `name type, ...` list (CREATE FUNCTION arguments) with each type in
    * Spark's spelling. */
  def canonColumns(list: String): String = {
    val m = mask(list)
    SqlScan.splice(list, columnTypes(m, 0, m.length).flatMap(typeSpan(m, _)))
  }

  /** Quantified comparisons `<lhs> <op> ALL|ANY|SOME (<subquery>)` — the
    * reference grammar supports them (test/lit/SQL/syntax.sql), Spark's
    * parser treats ALL/ANY as function calls. Rewritten to an aggregated
    * scalar subquery with EXACT 3-valued logic:
    *   ANY: true if any comparison is true; else NULL if any comparison is
    *        NULL; else false (empty set → false)
    *   ALL: false if any comparison is false; else NULL if any comparison
    *        is NULL; else true (empty set → true)
    * A correlated lhs/subquery yields a correlated scalar aggregate, which
    * the decorrelation pipeline already handles. The lhs is captured
    * conservatively (one token or one parenthesized group) — quantified
    * comparisons with a compound un-parenthesized lhs stay untouched and
    * fail in Spark's parser as before. */
  private def quantifiedCmp(sql: String): String = {
    val kwRe = "(?i)\\b(ALL|ANY|SOME)\\s*\\(".r
    var text = sql
    var changed = true
    while (changed) {
      changed = false
      // all scanning/paren-matching runs on the literal-masked copy
      // (length-preserving, so offsets map 1:1 onto `text`): an
      // `op ALL(SELECT…` shape inside a string literal or comment is never
      // rewritten, and a stray paren inside a literal cannot mis-slice the
      // statement (ADVICE r10)
      val masked = mask(text)
      val hit = kwRe.findAllMatchIn(masked).find { m =>
        val inner = masked.substring(m.end).trim.toUpperCase
        val isSub = Seq("SELECT", "WITH", "VALUES", "FROM").exists(inner.startsWith)
        isSub && cmpBefore(masked, m.start).isDefined
      }
      hit.foreach { m =>
        val (op, opStart) = cmpBefore(masked, m.start).get
        val open = masked.indexOf('(', m.end - 1)
        val close = closeParen(masked, open)
        if (close > 0) {
          lhsBefore(masked, opStart) match {
            case Some(lhsStart) =>
              val lhs = text.substring(lhsStart, opStart).trim
              val sub = text.substring(open + 1, close)
              val isAll = text.substring(m.start, m.end).toUpperCase.startsWith("ALL")
              val cmp = s"SELECT ($lhs $op graft_q_v) AS graft_q_cmp FROM ($sub) graft_q_t(graft_q_v)"
              val agg =
                if (isAll)
                  "CASE WHEN NOT coalesce(bool_and(graft_q_cmp), true) THEN false " +
                    "WHEN count(*) <> count(graft_q_cmp) THEN cast(null as boolean) ELSE true END"
                else
                  "CASE WHEN coalesce(bool_or(graft_q_cmp), false) THEN true " +
                    "WHEN count(*) <> count(graft_q_cmp) THEN cast(null as boolean) ELSE false END"
              text = text.substring(0, lhsStart) +
                s"(SELECT $agg FROM ($cmp))" + text.substring(close + 1)
              changed = true
            case None => ()
          }
        }
      }
    }
    text
  }

  /** The comparison operator ending immediately before `pos` (skipping
    * whitespace): Some((op, startIndexOfOp)). */
  private def cmpBefore(text: String, pos: Int): Option[(String, Int)] = {
    var j = pos - 1
    while (j >= 0 && text.charAt(j).isWhitespace) j -= 1
    val ops = Seq("<=", ">=", "<>", "!=", "=", "<", ">")
    ops.collectFirst {
      case op if j - op.length + 1 >= 0 &&
        text.substring(j - op.length + 1, j + 1) == op =>
        (op, j - op.length + 1)
    }
  }

  /** Start index of the conservative lhs (one identifier/literal token or
    * one balanced parenthesized group) ending immediately before `pos`. */
  private def lhsBefore(text: String, pos: Int): Option[Int] = {
    var j = pos - 1
    while (j >= 0 && text.charAt(j).isWhitespace) j -= 1
    if (j < 0) None
    else if (text.charAt(j) == ')') Some(SqlScan.openParen(text, j)).filter(_ >= 0)
    else {
      var k = j
      while (k >= 0 && (text.charAt(k).isLetterOrDigit ||
        "_.'\"".contains(text.charAt(k)))) k -= 1
      if (k == j) None else Some(k + 1)
    }
  }

  private val sqlKeywords = Set(
    "CASE", "WHEN", "THEN", "ELSE", "END", "IS", "NOT", "NULL", "AND", "OR",
    "IN", "LIKE", "BETWEEN", "TRUE", "FALSE", "CAST", "AS", "DISTINCT",
    "INTEGER", "INT", "BIGINT", "SMALLINT", "VARCHAR", "TEXT", "STRING",
    "DOUBLE", "FLOAT", "DECIMAL", "BOOLEAN", "DATE", "TIMESTAMP", "INTERVAL")

  /** Does the expression text reference any LOCAL (non-outer) column: a bare
    * identifier (inner column) or a qualifier not in `outerAliases`. */
  private def refsLocal(expr: String, outerAliases: Set[String]): Boolean = {
    val m = mask(expr)
    "(?<![\\w.])[A-Za-z_]\\w*".r.findAllMatchIn(m).exists { w =>
      val after = m.substring(w.end).dropWhile(_.isWhitespace)
      !after.startsWith("(") && !sqlKeywords(w.matched.toUpperCase) &&
        !(after.startsWith(".") && outerAliases(w.matched))
    }
  }

  private def refsOuter(expr: String, outerAliases: Set[String]): Boolean = {
    val m = mask(expr)
    outerAliases.exists(a => s"(?i)\\b$a\\s*\\.".r.findFirstIn(m).isDefined)
  }

  /** Split an expression text at top-level binary '+'/'-' into signed terms. */
  private def signedTerms(expr: String): Seq[(Char, String)] = {
    val m = mask(expr)
    // binary only: the previous non-space char must end an operand
    def binary(i: Int): Boolean = {
      val p = m.lastIndexWhere(!_.isWhitespace, i - 1)
      p >= 0 && (m.charAt(p).isLetterOrDigit || m.charAt(p) == ')' || m.charAt(p) == '\'')
    }
    val cuts = SqlScan.topLevelHits(expr)(i => (m.charAt(i) == '+' || m.charAt(i) == '-') && binary(i))
    ((-1 +: cuts) zip (cuts :+ expr.length)).map { case (from, until) =>
      (if (from < 0) '+' else m.charAt(from), expr.substring(from + 1, until).trim)
    }.filter(_._2.nonEmpty)
  }

  /** Split at top-level '*' into factors (no split across '/' or '%'). */
  private def factors(expr: String): Seq[String] = {
    val m = mask(expr)
    if (SqlScan.topLevelHits(expr)(i => m.charAt(i) == '/' || m.charAt(i) == '%').nonEmpty) Seq(expr)
    else SqlScan.splitTop(expr, "*").map(_.trim).filter(_.nonEmpty)
  }

  private val aggCallRe = "(?i)\\b(SUM|MIN|MAX|COUNT|AVG)\\s*\\(".r

  /** Remove outer references from INSIDE aggregate-function arguments using
    * exact algebraic identities, keeping the block an aggregate query:
    *   SUM(o)   → CASE WHEN COUNT(*)=0 THEN NULL ELSE (o)*COUNT(*) END
    *   MIN(o)   → CASE WHEN COUNT(*)=0 THEN NULL ELSE (o) END     (MAX same)
    *   COUNT(o) → CASE WHEN (o) IS NULL THEN 0 ELSE COUNT(*) END
    *   SUM(l±o) → (SUM(l) ± (o)*COUNT(l))
    *   SUM(o*l) → ((o)*SUM(l))
    *   MIN(l±o) → (MIN(l) ± (o))                                  (MAX same)
    * Catalyst rejects these eagerly during resolution
    * (AGGREGATE_FUNCTION_MIXED_OUTER_LOCAL_REFERENCES) or mis-attributes the
    * aggregate to the outer block (SQL-standard outer aggregation — the
    * corpus expects the reference's inner-scope semantics), so this has to
    * happen before analysis. The mixed identities (SUM(l±o), SUM(o*l),
    * MIN/MAX(l±o)) live here only: Spark raises that error before any
    * injected resolution rule runs. [[graft.plans.DecorrelateComplexAggs]]
    * repeats the pure-outer ones for what this rewrite does not see (plain
    * `spark.sql`, unqualified outer columns) and handles the outer
    * references that remain OUTSIDE aggregate calls. */
  def decomposeOuterAggs(sql: String): String = {
    val allAliases = declaredNames(sql)
    @annotation.tailrec def go(cur: String, rounds: Int): String =
      if (rounds == 8) cur
      else selectBlocks(cur).iterator.flatMap { case (open, close) =>
        val body = cur.substring(open + 1, close)
        rewriteAggsIn(body, allAliases -- declaredNames(body))
          .map(cur.substring(0, open + 1) + _ + cur.substring(close))
      }.nextOption() match {
        case Some(next) => go(next, rounds + 1)
        case None => cur
      }
    go(sql, 0)
  }

  /** One aggregate-call rewrite inside a subquery body; None if nothing to do. */
  private def rewriteAggsIn(body: String, outerAliases: Set[String]): Option[String] = {
    // grouped blocks: per-group COUNT(*) identities interact with HAVING —
    // the plan-level rule handles row-constant aggregates there instead
    if (outerAliases.isEmpty || topLevelIndexOf(body, "GROUP") >= 0) return None
    aggCallRe.findAllMatchIn(mask(body)).foreach { m =>
      val fn = m.group(1).toUpperCase
      val open = m.end - 1
      val close = closeParen(body, open)
      if (close > 0) {
        val arg = body.substring(open + 1, close).trim
        if (arg != "*" && !arg.toUpperCase.startsWith("DISTINCT") &&
          refsOuter(arg, outerAliases)) {
          val repl: Option[String] =
            if (!refsLocal(arg, outerAliases)) fn match { // pure-outer argument
              case "SUM" => Some(s"(CASE WHEN COUNT(*)=0 THEN NULL ELSE ($arg)*COUNT(*) END)")
              case "MIN" | "MAX" | "AVG" =>
                Some(s"(CASE WHEN COUNT(*)=0 THEN NULL ELSE ($arg) END)")
              case "COUNT" => Some(s"(CASE WHEN ($arg) IS NULL THEN 0 ELSE COUNT(*) END)")
              case _ => None
            } else { // mixed argument: try additive then multiplicative split
              val terms = signedTerms(arg)
              val (oTerms, lTerms) = terms.partition(t => !refsLocal(t._2, outerAliases) &&
                refsOuter(t._2, outerAliases))
              def joined(ts: Seq[(Char, String)]): String = ts.zipWithIndex.map {
                case ((s, t), 0) => if (s == '-') s"-($t)" else s"($t)"
                case ((s, t), _) => s" $s ($t)"
              }.mkString
              // every remaining term must be purely local (a term mixing
              // outer and local refs cannot be split additively)
              if (terms.length >= 2 && oTerms.nonEmpty && lTerms.nonEmpty &&
                lTerms.forall(t => !refsOuter(t._2, outerAliases))) {
                val lExpr = joined(lTerms)
                val oExpr = joined(oTerms)
                fn match {
                  case "SUM" => Some(s"(SUM($lExpr) + ($oExpr)*COUNT($lExpr))")
                  case "MIN" | "MAX" if lTerms.forall(_._1 == '+') =>
                    Some(s"($fn($lExpr) + ($oExpr))")
                  case _ => None
                }
              } else {
                val fs = factors(arg)
                if (fn == "SUM" && fs.length >= 2) {
                  val (of, lf) = fs.partition(f => !refsLocal(f, outerAliases) &&
                    refsOuter(f, outerAliases))
                  if (of.nonEmpty && lf.nonEmpty && lf.forall(!refsOuter(_, outerAliases)))
                    Some(s"((${of.map(f => s"($f)").mkString("*")})*SUM(${lf.map(f => s"($f)").mkString("*")}))")
                  else None
                } else None
              }
            }
          repl.foreach { r =>
            return Some(body.substring(0, m.start) + r + body.substring(close + 1))
          }
        }
      }
    }
    None
  }

  /** `A INNER JOIN B ON <cond with subquery>` → `A, B WHERE <cond>`: Spark
    * cannot prepare subquery expressions inside join conditions (physical
    * planning limitation); for INNER joins the comma-join + WHERE form is
    * identical. Applied only when the ON clause contains a subquery and the
    * query has no top-level WHERE of its own, and only in the classic head
    * of a pipe query (a `|> INNER JOIN` stage has no comma form). */
  def joinOnSubqueryToWhere(sql: String): String = {
    val head = classicHead(sql)
    val m = mask(head)
    "(?i)\\bINNER\\s+JOIN\\s+(\\w+(?:\\s+\\w+)?)\\s+ON\\s+".r.findFirstMatchIn(m) match {
      case Some(j) if m.substring(j.end).toUpperCase.contains("(SELECT") &&
          topLevelIndexOf(head, "WHERE") < 0 =>
        sql.substring(0, j.start) + ", " + j.group(1) + " WHERE " + sql.substring(j.end)
      case _ => sql
    }
  }

  /** `EXISTS(SELECT <exprs>)` with no FROM: the implicit single row always
    * exists → `(1 = 1)` (the reference parses multi-column no-FROM selects
    * here; Spark would misread the collapsed form as its higher-order
    * exists()). Not `TRUE`: `FROM t WHERE (TRUE)` parses as the table alias
    * `WHERE` with a column list, and the filter is lost. */
  def existsNoFromToTrue(sql: String): String = {
    val m = mask(sql)
    "(?i)\\bEXISTS\\s*\\(\\s*SELECT\\b".r.findFirstMatchIn(m).flatMap { e =>
      val open = m.indexOf('(', e.start)
      val close = closeParen(sql, open)
      if (close > 0 && topLevelIndexOf(sql.substring(open + 1, close), "FROM") < 0)
        Some(existsNoFromToTrue(sql.substring(0, e.start) + "(1 = 1)" + sql.substring(close + 1)))
      else None
    }.getOrElse(sql)
  }

  /** Multi-level correlation hoist: Spark resolves outer references exactly
    * one level up, so a subquery nested two scopes deep cannot see the
    * top-level alias (the reference's general unnesting can —
    * Transforms/Unnesting.cpp). When the top-level FROM is a single simple
    * relation `FROM t a`, an inner block that references only `a.` and its
    * own aliases is hoisted into a derived table:
    *   FROM t a  →  FROM (SELECT a.*, <block> AS __hoistK FROM t a) a
    * and the block's occurrence becomes `a.__hoistK` — every remaining
    * correlation is then single-level. Exact: the hoisted block correlates
    * only on `a` rows, evaluated once per row either way. */
  def hoistDeepCorrelation(sql: String): String = {
    var cur = sql
    var k = 0
    var changed = true
    while (changed && k < 4) {
      changed = false
      hoistOnce(cur, k).foreach { next => cur = next; changed = true; k += 1 }
    }
    cur
  }

  private def hoistOnce(sql: String, k: Int): Option[String] = {
    val ms = mask(sql)
    val blocks = selectBlocks(sql)
    if (!ms.toUpperCase.startsWith("SELECT") || blocks.size < 2) return None
    // top-level FROM: single simple `FROM <table> <alias>`
    val fromAt = topLevelIndexOf(sql, "FROM")
    if (fromAt < 0) return None
    if (ms.substring(0, fromAt).replaceAll("\\([^)]*\\)", "").contains("*")) return None // SELECT *
    val m = "(?is)^FROM\\s+(\\w+)\\s+(\\w+)\\s*".r.findFirstMatchIn(ms.substring(fromAt))
      .getOrElse(return None)
    val (table, alias) = (m.group(1), m.group(2))
    if (fromKeywords.contains(alias.toUpperCase)) return None
    val afterFrom = ms.substring(fromAt + m.end).trim
    if (afterFrom.nonEmpty && !fromKeywords.contains(
      afterFrom.takeWhile(_.isLetterOrDigit).toUpperCase)) return None
    // innermost nested (SELECT ...) block referencing the top alias
    def isNested(b: (Int, Int)) =
      blocks.exists(p => p._1 < b._1 && p._2 > b._2)
    def isInnermost(b: (Int, Int)) =
      !blocks.exists(p => p._1 > b._1 && p._2 < b._2)
    val qualRe = "(\\w+)\\s*\\.".r
    // a block is a TABLE (derived table in FROM/JOIN position, or followed by
    // a bare alias) — only scalar-expression blocks may be hoisted
    def isTablePosition(b: (Int, Int)): Boolean = {
      val prevWord = SqlScan.wordBefore(sql, b._1)
      if (prevWord == "FROM" || prevWord == "JOIN") true
      else {
        val nextWord = SqlScan.wordAfter(sql, b._2 + 1)
        nextWord.nonEmpty && nextWord != "AS" && !fromKeywords.contains(nextWord) &&
          prevWord == "" // e.g. `, (SELECT...) alias` in a FROM list
      }
    }
    blocks.find { b =>
      if (!isNested(b) || !isInnermost(b) || isTablePosition(b)) false
      else {
        val body = sql.substring(b._1 + 1, b._2)
        val quals = qualRe.findAllMatchIn(mask(body)).map(_.group(1)).toSet
        val own = declaredNames(body)
        quals.contains(alias) && !own.contains(alias) &&
          quals.forall(q => q == alias || own.contains(q))
      }
    }.map { case (bOpen, bClose) =>
      val block = sql.substring(bOpen, bClose + 1)
      val hoistCol = s"__hoist$k"
      val newFrom = s"FROM (SELECT $alias.*, $block AS $hoistCol FROM $table $alias) $alias"
      // splice: replace block first (it precedes FROM in the select list) or
      // after — handle both orders by editing the later region first
      val fromStart = fromAt
      val fromEnd = fromAt + m.end
      if (bOpen > fromEnd) {
        sql.substring(0, fromStart) + newFrom + " " +
          sql.substring(fromEnd, bOpen) + s"$alias.$hoistCol" + sql.substring(bClose + 1)
      } else {
        sql.substring(0, bOpen) + s"$alias.$hoistCol" +
          sql.substring(bClose + 1, fromStart) + newFrom + " " + sql.substring(fromEnd)
      }
    }
  }

  /** A scalar subquery with no FROM clause is a single implicit row, so
    * `(SELECT <expr>)` ≡ `(<expr>)` and single-row aggregates collapse:
    * SUM/MIN/MAX/AVG(e) → e, COUNT(*) → 1, COUNT(e) → e IS NULL ? 0 : 1.
    * Catalyst rejects outer references inside such subqueries
    * (CORRELATED_REFERENCE) and multi-level nesting; the reference's general
    * unnesting (Transforms/Unnesting.cpp) handles them. Applied innermost-
    * first until fixpoint, this is an exact rewrite, not an approximation.
    * A no-FROM block in DERIVED-TABLE position (`FROM (SELECT 1) t`, `JOIN
    * (SELECT 2) u`), a set-operation operand (`UNION ALL (SELECT 1)`) or a
    * parenthesized whole statement is a one-row TABLE, not a scalar, and
    * stays. */
  def rewriteNoFromScalar(sql: String): String = {
    val ms = mask(sql)
    // innermost first = rightmost opening paren first
    selectBlocks(sql).sortBy(-_._1).iterator.map { case (open, close) =>
      (open, close, ms.indexWhere(!_.isWhitespace, open + 1) + 6) // after SELECT
    }.find { case (open, close, exprAt) =>
      val expr = sql.substring(exprAt, close)
      !Seq("FROM", "WHERE", "GROUP", "UNION", "INTERSECT", "EXCEPT")
        .exists(topLevelIndexOf(expr, _) >= 0) &&
        tableOperandRe.findFirstIn(ms.substring(0, open)).isEmpty && selectBlocks(expr).isEmpty
    }.fold(sql) { case (open, close, exprAt) =>
      val collapsed = collapseSingleRowAggs(sql.substring(exprAt, close).trim)
      rewriteNoFromScalar(sql.substring(0, open) + s"($collapsed)" + sql.substring(close + 1))
    }
  }

  /** Text that a table operand follows: FROM, JOIN, a set operator, or nothing. */
  private val tableOperandRe =
    "(?is)(?:^|\\b(?:FROM|JOIN|UNION|INTERSECT|EXCEPT|MINUS)(?:\\s+(?:ALL|DISTINCT))?)\\s*$".r

  private def collapseSingleRowAggs(expr: String): String =
    aggCallRe.findFirstMatchIn(mask(expr)).flatMap { m =>
      val close = closeParen(expr, m.end - 1)
      if (close < 0) None
      else {
        val arg = expr.substring(m.end, close).trim
        val repl = m.group(1).toUpperCase match {
          case "COUNT" if arg == "*" => "1"
          case "COUNT" => s"(CASE WHEN ($arg) IS NULL THEN 0 ELSE 1 END)"
          case "AVG" => s"(CAST(($arg) AS DOUBLE))"
          case _ => s"($arg)"
        }
        Some(collapseSingleRowAggs(expr.substring(0, m.start) + repl + expr.substring(close + 1)))
      }
    }.getOrElse(expr)

  // ------------------------------------------------ structural scan helpers

  /** `(SELECT ...)` spans not nested inside another such span. */
  private def outerSelectBlocks(text: String): Seq[(Int, Int)] = {
    val bs = selectBlocks(text)
    bs.filterNot(b => bs.exists(p => p._1 < b._1 && p._2 > b._2))
  }

  /** The text before the first top-level `|>`: the classic head of a pipe
    * query, all of classic SQL. */
  private def classicHead(sql: String): String = SqlScan.splitTop(sql, "|>").head

  /** Top-level WHERE clause of `sql`'s classic head: (whereKeywordStart,
    * clauseEndExclusive). */
  private def whereSpan(sql: String): Option[(Int, Int)] = {
    val head = classicHead(sql)
    val w = topLevelIndexOf(head, "WHERE")
    if (w < 0) None else Some((w, SqlScan.clauseEnd(head, w + 5)))
  }

  /** Top-level FROM clause text span of `sql`'s classic head: (textStart,
    * textEndExclusive). */
  private def fromSpan(sql: String): Option[(Int, Int)] = {
    val head = classicHead(sql)
    val f = topLevelIndexOf(head, "FROM")
    if (f < 0) None else Some((f + 4, SqlScan.clauseEnd(head, f + 4, Seq("WHERE"))))
  }

  private case class FromItem(text: String, alias: String)

  /** Parse a comma-join FROM clause into items with aliases; None when the
    * clause uses explicit JOIN syntax or an item's alias is unrecognizable. */
  private def parseFromItems(fromText: String): Option[Seq[FromItem]] = {
    if (topLevelIndexOf(fromText, "JOIN") >= 0) return None
    val items = SqlScan.splitTop(fromText, ",").map(_.trim).filter(_.nonEmpty)
    val parsed = items.map { it =>
      var t = it
      // strip a trailing column-name list `alias(c1, c2)` to find the alias
      val colListRe = "(?s)^(.*?)\\b([A-Za-z_]\\w*)\\s*\\(\\s*\\w+(?:\\s*,\\s*\\w+)*\\s*\\)$".r
      t match {
        case colListRe(before, al) if before.trim.nonEmpty &&
            !fromKeywords.contains(al.toUpperCase) =>
          FromItem(it, al)
        case _ =>
          val wordRe = "(?s)^(.*?)\\s+(?:(?i)AS\\s+)?([A-Za-z_]\\w*)$".r
          t match {
            case wordRe(before, al) if !fromKeywords.contains(al.toUpperCase) &&
                !before.trim.endsWith(",") =>
              FromItem(it, al)
            case _ if "^[A-Za-z_]\\w*$".r.findFirstIn(t).isDefined =>
              FromItem(it, t)
            case _ => FromItem(it, "")
          }
      }
    }
    if (parsed.exists(_.alias.isEmpty)) None else Some(parsed)
  }

  // ------------------------------------- comparisons of two scalar subqueries

  /** `WHERE (SELECT f(agg)·outer FROM t) = (SELECT g(agg)·outer FROM u)`:
    * Spark never executes scalar subqueries that optimization pushes into
    * hash-join keys ("Subquery ... has not finished"). Rewrite each side's
    * uncorrelated aggregate core into a 1-row derived table in FROM (an
    * aggregate without GROUP BY returns exactly one row, so the cross join
    * is cardinality-preserving and exact, including the empty-input NULL),
    * after pulling outer-alias factors out of the select expression:
    *   (SELECT 2*SUM(i)*s1.i FROM t)  →  (s1.i) * __bsq0.__v,
    *   FROM ... , (SELECT (2)*(SUM(i)) AS __v FROM t) __bsq0
    * Triggered only when two subquery blocks sit in one comparison (no
    * AND/OR between them) — the exact shape Spark cannot execute. */
  def cmpScalarSubqueriesToFrom(sql: String): String = {
    if (!sql.trim.toUpperCase.startsWith("SELECT")) return sql
    val ws = whereSpan(sql).getOrElse(return sql)
    val whereText = sql.substring(ws._1 + 5, ws._2)
    val blocks = outerSelectBlocks(whereText).sortBy(_._1)
    if (blocks.size < 2) return sql
    val inCmp = blocks.sliding(2).collect {
      case Seq(b1, b2)
        if {
          val between = mask(whereText).substring(b1._2 + 1, b2._1)
          between.exists(c => c == '=' || c == '<' || c == '>') &&
            "(?i)\\b(AND|OR)\\b".r.findFirstIn(between).isEmpty
        } => Seq(b1, b2)
    }.flatten.toSeq.distinct
    if (inCmp.size < 2) return sql
    val fs0 = fromSpan(sql).getOrElse(return sql)
    val fromText = sql.substring(fs0._1, fs0._2)
    val items = parseFromItems(fromText).getOrElse(return sql)
    val topAliases = items.map(_.alias).toSet
    // plan every replacement before editing; abort wholesale on any miss
    case class Repl(open: Int, close: Int, newExpr: String, derived: String)
    val repls = inCmp.zipWithIndex.map { case ((open, close), k) =>
      val body = whereText.substring(open + 1, close)
      val fromAt = topLevelIndexOf(body, "FROM")
      if (fromAt < 0) return sql
      if (topLevelIndexOf(body, "GROUP") >= 0) return sql
      val selStart = topLevelIndexOf(body, "SELECT")
      if (selStart != body.indexWhere(!_.isWhitespace)) return sql
      val selPart = body.substring(selStart + 6, fromAt).trim
      val outer = topAliases -- declaredNames(body)
      val fsplit = factors(selPart)
      val (outF, inF) = fsplit.partition(f => refsOuter(f, outer) && !refsLocal(f, outer))
      if (inF.isEmpty || inF.exists(f => refsOuter(f, outer))) return sql
      if (aggCallRe.findFirstIn(mask(inF.mkString(" "))).isEmpty) return sql
      // the body's FROM/WHERE tail must be uncorrelated to move into FROM
      if (refsOuter(body.substring(fromAt), outer)) return sql
      val alias = s"__bsq$k"
      val derived =
        s"(SELECT ${inF.map(f => s"($f)").mkString("*")} AS __v ${body.substring(fromAt)}) $alias"
      val newExpr =
        if (outF.isEmpty) s"$alias.__v"
        else s"(${outF.map(f => s"($f)").mkString("*")}*$alias.__v)"
      Repl(open, close, newExpr, derived)
    }
    val newWhere = repls.sortBy(-_.open).foldLeft(whereText) { (w, r) =>
      w.substring(0, r.open) + r.newExpr + w.substring(r.close + 1)
    }
    // expand a bare `SELECT *` so the added derived tables stay invisible
    val selEnd = topLevelIndexOf(sql, "FROM")
    val selList = sql.substring(6, selEnd).trim
    val newSelList =
      if (selList == "*") items.map(i => s"${i.alias}.*").mkString(", ")
      else selList
    sql.substring(0, 6) + " " + newSelList + " FROM " +
      fromText.trim + ", " + repls.map(_.derived).mkString(", ") + " WHERE " +
      newWhere + sql.substring(ws._2)
  }

  // ------------------------------- correlated boolean scalar subquery filter

  /** `WHERE (SELECT <bool over outer refs> FROM t WHERE p)` — Catalyst
    * mis-resolves outer attributes appearing only in a correlated scalar
    * subquery's select list when the predicate correlates on a different
    * outer alias (INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND). As a filter the
    * scalar's value is TRUE / FALSE-or-NULL, so it is exactly
    * `EXISTS (SELECT 1 FROM t WHERE (p) AND (<bool>))` whenever at most one
    * row matches p (more would be a runtime error anyway — the rewrite
    * widens that error case to ANY-row semantics, like the reference's mark
    * joins). Triggered only when the whole WHERE clause is one subquery. */
  def boolScalarFilterToExists(sql: String): String = {
    val ws = whereSpan(sql).getOrElse(return sql)
    val whereText = sql.substring(ws._1 + 5, ws._2)
    val blocks = outerSelectBlocks(whereText)
    if (blocks.size != 1) return sql
    val (open, close) = blocks.head
    if (whereText.substring(0, open).trim.nonEmpty ||
      whereText.substring(close + 1).trim.nonEmpty) return sql
    val body = whereText.substring(open + 1, close)
    val fromAt = topLevelIndexOf(body, "FROM")
    if (fromAt < 0) return sql
    val selStart = topLevelIndexOf(body, "SELECT")
    if (selStart != body.indexWhere(!_.isWhitespace)) return sql
    val selPart = body.substring(selStart + 6, fromAt).trim
    if (aggCallRe.findFirstIn(mask(selPart)).isDefined) return sql
    val fs0 = fromSpan(sql).getOrElse(return sql)
    val items = parseFromItems(sql.substring(fs0._1, fs0._2)).getOrElse(return sql)
    val outer = items.map(_.alias).toSet -- declaredNames(body)
    if (!refsOuter(selPart, outer)) return sql
    val rest = body.substring(fromAt) // FROM ... [WHERE ...] [...]
    val bw = topLevelIndexOf(rest, "WHERE")
    val newRest =
      if (bw >= 0) {
        val bwEnd = SqlScan.clauseEnd(rest, bw + 5)
        rest.substring(0, bw) +
          s"WHERE (${rest.substring(bw + 5, bwEnd).trim}) AND ($selPart)" +
          rest.substring(bwEnd)
      } else {
        val end = SqlScan.clauseEnd(rest, 4)
        rest.substring(0, end) + s" WHERE ($selPart)" + rest.substring(end)
      }
    sql.substring(0, ws._1) + s"WHERE EXISTS (SELECT 1 $newRest)" + sql.substring(ws._2)
  }

  // --------------------------------------- relational division (deep EXISTS)

  /** Division-style nesting: `... FROM S s WHERE [NOT] EXISTS (SELECT ...
    * WHERE ... (SELECT ... WHERE ... s.c ...))` — the inner block references
    * `s` TWO scopes up, which Catalyst cannot resolve (outer references bind
    * exactly one level; the reference's general unnesting handles arbitrary
    * depth, Transforms/Unnesting.cpp). Exact flattening: the EXISTS body
    * depends on `s` only through its referenced columns C, so join the body
    * against the DISTINCT C-tuples of S — `(SELECT DISTINCT s.C FROM S s)
    * __div` — rewrite every `s.` inside the body to `__div.`, and equate
    * `__div.C <=> s.C` at the body's top level (depth-1 correlation,
    * null-safe). Every remaining correlation is then single-level. */
  def flattenDivision(sql: String): String = {
    if (!sql.trim.toUpperCase.startsWith("SELECT")) return sql
    val ws = whereSpan(sql).getOrElse(return sql)
    val whereText = sql.substring(ws._1 + 5, ws._2)
    val whereMask = mask(whereText)
    val fs0 = fromSpan(sql).getOrElse(return sql)
    val items = parseFromItems(sql.substring(fs0._1, fs0._2)).getOrElse(return sql)
    for (m <- "(?i)\\bEXISTS\\s*\\(".r.findAllMatchIn(whereMask)) {
      val open = whereMask.indexOf('(', m.start)
      val close = closeParen(whereText, open)
      if (close > 0 && !whereText.substring(open + 1, close).contains("__div")) {
        val body = whereText.substring(open + 1, close)
        val bodyMask = mask(body)
        val own = declaredNames(body)
        // only nested subquery EXPRESSIONS break Catalyst's one-level outer
        // resolution; a correlated derived table in FROM/JOIN position under
        // EXISTS is decorrelated natively (lateral-style) — don't touch it
        val nested = selectBlocks(body).filterNot { case (no, nc) =>
          val prevWord = SqlScan.wordBefore(body, no)
          val prev = bodyMask.lastIndexWhere(!_.isWhitespace, no - 1)
          prevWord == "FROM" || prevWord == "JOIN" ||
            (prev >= 0 && bodyMask.charAt(prev) == ',') || SqlScan.wordAfter(body, nc + 1) == "AS"
        }
        for (item <- items if !own.exists(_.equalsIgnoreCase(item.alias))) {
          val a = item.alias
          val aRef = ("(?i)\\b" + java.util.regex.Pattern.quote(a) + "\\s*\\.").r
          val deepRef = nested.exists { case (no, nc) =>
            aRef.findFirstIn(bodyMask.substring(no, nc + 1)).isDefined
          }
          if (deepRef) {
            val colRe = ("(?i)\\b" + java.util.regex.Pattern.quote(a) + "\\s*\\.\\s*(\\w+)").r
            val corrCols = colRe.findAllMatchIn(bodyMask).map(_.group(1)).toSeq
              .foldLeft(Vector.empty[String]) { (acc, c) =>
                if (acc.exists(_.equalsIgnoreCase(c))) acc else acc :+ c
              }
            if (corrCols.nonEmpty) {
              val divA = "__div"
              val body2 = SqlScan.splice(body,
                aRef.findAllMatchIn(bodyMask).map(r => (r.start, r.end, s"$divA.")).toSeq)
              val bFrom = topLevelIndexOf(body2, "FROM")
              if (bFrom >= 0) {
                val derived = s"(SELECT DISTINCT ${corrCols.map(c => s"$a.$c").mkString(", ")} " +
                  s"FROM ${item.text}) $divA"
                val withDiv = body2.substring(0, bFrom + 4) + " " + derived + ", " +
                  body2.substring(bFrom + 4).dropWhile(_.isWhitespace)
                val conj = corrCols.map(c => s"$divA.$c <=> $a.$c").mkString(" AND ")
                val bw = topLevelIndexOf(withDiv, "WHERE")
                val newBody =
                  if (bw >= 0) {
                    val bwEnd = SqlScan.clauseEnd(withDiv, bw + 5)
                    withDiv.substring(0, bw) +
                      s"WHERE (${withDiv.substring(bw + 5, bwEnd).trim}) AND $conj" +
                      withDiv.substring(bwEnd)
                  } else {
                    val end = SqlScan.clauseEnd(withDiv, bFrom + 4)
                    withDiv.substring(0, end) + s" WHERE $conj" + withDiv.substring(end)
                  }
                val newWhere = whereText.substring(0, open + 1) + newBody +
                  whereText.substring(close)
                return flattenDivision(
                  sql.substring(0, ws._1 + 5) + newWhere + sql.substring(ws._2))
              }
            }
          }
        }
      }
    }
    sql
  }

  /** The reference follows Postgres null ordering (ASC → NULLS LAST, DESC →
    * NULLS FIRST); Spark defaults to the opposite. Make every ORDER BY item
    * explicit — including window-internal ones. A clause runs to the
    * enclosing `)`, a depth-0 LIMIT/OFFSET, a window frame (ROWS/RANGE/
    * GROUPS followed by BETWEEN, UNBOUNDED, CURRENT or a number) or a pipe
    * `|>`; an ORDER BY nested inside a clause is left as written. */
  def pgNullOrder(sql: String): String = {
    val m = mask(sql)
    def frameAt(j: Int): Boolean =
      Seq("ROWS", "RANGE", "GROUPS").exists(SqlScan.wordAt(m, j, _)) && {
        val next = m.substring(j).dropWhile(!_.isWhitespace).dropWhile(_.isWhitespace).toUpperCase
        Seq("BETWEEN", "UNBOUNDED", "CURRENT").exists(next.startsWith) ||
          next.headOption.exists(_.isDigit)
      }
    val up = m.toUpperCase
    val spans = Seq.newBuilder[(Int, Int, String)]
    var at = up.indexOf("ORDER BY")
    while (at >= 0) {
      val start = at + 8
      val end = SqlScan.scanTop(m, start)(j => SqlScan.wordAt(m, j, "LIMIT") ||
        SqlScan.wordAt(m, j, "OFFSET") || frameAt(j) || m.startsWith("|>", j))
      val items = SqlScan.splitTop(sql.substring(start, end), ",").map { item =>
        val itemMask = mask(item)
        val t = itemMask.trim.toUpperCase
        // insert before any trailing whitespace or comment so the next token
        // (e.g. a newline-separated LIMIT) stays separated
        val core = item.substring(0, itemMask.replaceAll("\\s+$", "").length)
        val trail = item.substring(core.length)
        if (t.isEmpty || t.contains("NULLS")) item
        else if (t.endsWith("DESC")) core + " NULLS FIRST" + trail
        else core + " NULLS LAST" + trail
      }
      spans += ((start, end, items.mkString(",")))
      at = up.indexOf("ORDER BY", end)
    }
    SqlScan.splice(sql, spans.result())
  }
}
