package graft.sqlsurface

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression}
import org.apache.spark.sql.catalyst.parser.CatalystSqlParser

import scala.util.Try

/** User-defined scalar functions from SQL DDL — the Spark counterpart of the
  * reference's runtime-compiled C UDFs:
  * `CREATE OR REPLACE FUNCTION f(x int) RETURNS int LANGUAGE c AS $$ return x+1; $$`
  * (reference test/sqlite-small/udf.test:14-30; impl via system compiler +
  * dlopen, src/catalog/UDFImplementer.cpp:30,111-112).
  *
  * Design: bodies are compiled to **Catalyst expression macros**, not JVM
  * closures. The body is parsed with Spark's expression parser, parameters are
  * substituted with the call-site argument expressions (cast to the declared
  * types), and the result is registered in the function registry. Compared to
  * a black-box closure UDF this keeps the function inside whole-stage codegen
  * and visible to the optimizer (constant folding, pushdown THROUGH the
  * function) and avoids shipping compiled classes to executors — the right
  * trade at cluster scale. `LANGUAGE c` bodies of the reference corpus's
  * `return <expr>;` single-expression form are rewritten to the expression;
  * `LANGUAGE sql` takes the expression directly.
  *
  * `LANGUAGE python` bodies are interpreted per row by
  * [[graft.functions.PyInterp]] (the reference embeds CPython; this
  * container has no executor-side Python). The accepted grammar is a
  * structured-Python subset:
  *
  *  - module: one or more `def`s (helpers callable from the entry def,
  *    recursion allowed, default parameter values, annotations stripped),
  *    module-level constants, `import math` / `from math import f` (the
  *    only importable module);
  *  - statements: `return`, plain / parallel-tuple / augmented
  *    (`+= -= *= /= //= %= **=`) / subscript assignment, `if`/`elif`/
  *    `else`, `for` over range/list/tuple/string/dict with tuple targets,
  *    `while`, `break`/`continue`/`pass`;
  *  - expressions: Python arithmetic (`/` float, `//` floors, `%` follows
  *    the divisor sign), chained comparisons, `and`/`or` (returning the
  *    operand), `not`, `in`/`not in`, `is (not)` None, ternary
  *    `x if c else y`, slices `x[a:b:c]`, list/tuple/dict literals, list
  *    comprehensions, generator expressions in `sum(...)` etc., f-strings
  *    with `{expr}` / `{expr:.Nf}` / `{expr:Nd}`;
  *  - builtins: len int float str bool abs min max sum round sorted
  *    reversed list tuple dict range enumerate zip any all ord chr;
  *  - methods: strings (upper lower strip lstrip rstrip startswith endswith
  *    replace split join find rfind count index isdigit isalpha isalnum
  *    isspace islower isupper zfill capitalize title format), lists (append
  *    pop insert extend remove index count sort reverse copy), dicts (get
  *    keys values items pop setdefault update copy), `math.*`; date
  *    attributes .year/.month/.day.
  *
  * Also in scope (round 8): `lambda` expressions (read-only capture),
  * `sorted/min/max(key=f[, reverse=b])`, `try/except [Exc [as e]]/else/
  * finally`, `raise Name('msg')`, keyword arguments + `*args` + call-site
  * splat on user defs, bitwise `| & ^ << >>`, `%` string formatting,
  * `map`/`filter`/`isinstance`, raw strings, `import re` (search/match/
  * fullmatch/findall/split/sub/subn/escape, match objects, flags,
  * callable replacements), `from collections import Counter, defaultdict`,
  * and module-level `class Name:` with `__init__`/methods/instance
  * attributes — see [[graft.functions.PyInterp]].
  *
  * Round 9: nested `def` (closures with live enclosing-frame reads and
  * `nonlocal` write-through), `**kwargs` parameters, single class
  * inheritance (subclass-aware `isinstance`), `yield`, `global`,
  * call-site `**d` splat, and zero-arg `super()` joined the subset.
  * Round 10: lazy generators, the coroutine protocol (`x = yield v`,
  * `gen.send(v)`), argful `super(C, self)`, and CPython's
  * UnboundLocalError local-name classification.
  *
  * Out of scope — rejected with a clear parse error at CREATE FUNCTION
  * time: `gen.throw`, parenthesized yield expressions outside an
  * assignment RHS, imports other than math/re/collections.
  * (Documented known-gap in COVERAGE.md: full CPython.)
  */
object UdfSurface {
  private val createFnRe =
    """(?is)^\s*CREATE\s+(?:OR\s+REPLACE\s+)?FUNCTION\s+(\w+)\s*\(([^)]*)\)\s*RETURNS\s+(\w+(?:\s*\(\s*\d+(?:\s*,\s*\d+)?\s*\))?)\s+LANGUAGE\s+(\w+)\s+AS\s+\$\$(.*)\$\$\s*;?\s*$""".r
  /** Postgres also accepts the clause order `AS $$...$$ LANGUAGE x` (the
    * reference's python-udfs.test uses it). */
  private val createFnRe2 =
    """(?is)^\s*CREATE\s+(?:OR\s+REPLACE\s+)?FUNCTION\s+(\w+)\s*\(([^)]*)\)\s*RETURNS\s+(\w+(?:\s*\(\s*\d+(?:\s*,\s*\d+)?\s*\))?)\s+AS\s+\$\$(.*)\$\$\s+LANGUAGE\s+(\w+)\s*;?\s*$""".r

  /** Reference/Postgres type aliases → Spark SQL type names. */
  private def normalizeType(t: String): String =
    t.trim.toLowerCase.replaceAll("\\s*\\(.*", "") match {
      case "int4"            => "int"
      case "int8"            => "bigint"
      case "int2"            => "smallint"
      case "float4" | "real" => "float"
      case "float8"          => "double"
      case "text" | "varchar" | "char" => "string"
      case "bool"            => "boolean"
      case other             => other
    }

  def isCreateFunction(stmt: String): Boolean =
    createFnRe.findFirstIn(stmt).isDefined || createFnRe2.findFirstIn(stmt).isDefined

  private val declRe = """^\w+\s+(\w+)\s*=\s*(.+)$""".r
  private val ifReturnRe = """(?s)^if\s*\((.+)\)\s*return\s+(.+)$""".r
  private val returnRe = """(?s)^return\s+(.+)$""".r

  /** Translate the reference corpus's C bodies to a SQL expression. Supported
    * statement shapes (udf.test's full surface): local declarations
    * `type v = expr;`, guarded returns `if (cond) return a;`, and a final
    * `return b;` — compiled to nested CASE WHEN with declarations inlined. */
  private[sqlsurface] def translateCBody(body: String): String = {
    val stmts = body.split(";").map(_.trim).filter(_.nonEmpty).toSeq
    var bindings = Map.empty[String, String]
    def substitute(e: String): String =
      bindings.foldLeft(e) { case (acc, (n, v)) =>
        acc.replaceAll(s"\\b$n\\b", java.util.regex.Matcher.quoteReplacement(s"($v)"))
      }
    val whens = Seq.newBuilder[(String, String)]
    var elseVal: Option[String] = None
    stmts.foreach { stmt =>
      // anything after the unconditional return is C dead code — skip it
      // rather than compiling it into a CASE branch that would run first
      if (elseVal.isEmpty) stmt match {
        case ifReturnRe(cond, v) => whens += ((substitute(cond.trim), substitute(v.trim)))
        case returnRe(v)         => elseVal = Some(substitute(v.trim))
        case declRe(name, value) => bindings += (name -> substitute(value.trim))
        case other =>
          throw new IllegalArgumentException(s"unsupported C UDF statement: '$other'")
      }
    }
    val base = elseVal.getOrElse(
      throw new IllegalArgumentException("C UDF body has no return"))
    val ws = whens.result()
    if (ws.isEmpty) base
    else ws.reverse.foldLeft(base) { case (els, (c, v)) =>
      s"CASE WHEN $c THEN $v ELSE $els END"
    }
  }

  /** Parse + register as an expression macro; returns the function name. */
  def execute(spark: SparkSession, stmt: String): String = (stmt match {
    case createFnRe(name, argList, retType, language, body0) =>
      (name, argList, retType, language, body0)
    case createFnRe2(name, argList, retType, body0, language) =>
      (name, argList, retType, language, body0)
    case _ => throw new IllegalArgumentException("not a CREATE FUNCTION statement")
  }) match {
    case (name, argList, retType, language, body0) if language.equalsIgnoreCase("python") =>
      // interpreted per row, like the reference's py_interp bridge —
      // see graft.functions.PyInterp
      // the def matching the SQL function name is the entry point (the
      // reference's convention); other defs in the body become helpers
      val fn = graft.functions.PyInterp.parse(body0.stripPrefix("\n"), Some(name))
      val retDt = CatalystSqlParser.parseDataType(normalizeType(retType))
      val argDts = (argList.trim match {
        case "" => Seq.empty[String]
        case l => l.split(",").toSeq.map(a => normalizeType(a.trim.split("\\s+", 2)(1)))
      }).map(CatalystSqlParser.parseDataType)
      val builder: Seq[Expression] => Expression = { exprs =>
        require(exprs.length == argDts.length,
          s"$name expects ${argDts.length} arguments, got ${exprs.length}")
        val castArgs = exprs.zip(argDts).map { case (e, dt) => Cast(e, dt) }
        graft.functions.PyUdfExpression(fn, retDt, castArgs)
      }
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, builder, "python_udf")
      name
    case (name, argList, retType, "c" | "C", body0)
        if Try(translateCBody(body0.trim)).isFailure =>
      // statement-shaped C (loops, mutation, blocks): interpreted per row —
      // see CInterp. Expression-shaped bodies fall through to the Catalyst
      // macro below (codegen'd, optimizer-visible) as before.
      val args: Seq[(String, String)] = argList.trim match {
        case "" => Seq.empty
        case l => l.split(",").toSeq.map { a =>
          val parts = a.trim.split("\\s+", 2)
          require(parts.length == 2, s"malformed UDF argument: '$a'")
          (parts(0).toLowerCase, normalizeType(parts(1)))
        }
      }
      val fn = graft.functions.CInterp.parse(args.map(_._1), body0.trim)
      val retDt = CatalystSqlParser.parseDataType(normalizeType(retType))
      val argDts = args.map(a => CatalystSqlParser.parseDataType(a._2))
      val builder: Seq[Expression] => Expression = { exprs =>
        require(exprs.length == argDts.length,
          s"$name expects ${argDts.length} arguments, got ${exprs.length}")
        val castArgs = exprs.zip(argDts).map { case (e, dt) => Cast(e, dt) }
        graft.functions.CUdfExpression(fn, retDt, castArgs)
      }
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, builder, "sql_udf")
      name
    case (name, argList, retType, language, body0) =>
      val body = language.toLowerCase match {
        case "sql" | "scala" => body0.trim
        case "c" => translateCBody(body0.trim)
        case other => throw new IllegalArgumentException(s"unsupported UDF language: $other")
      }
      val args: Seq[(String, String)] = argList.trim match {
        case "" => Seq.empty
        case l => l.split(",").toSeq.map { a =>
          val parts = a.trim.split("\\s+", 2)
          require(parts.length == 2, s"malformed UDF argument: '$a'")
          (parts(0).toLowerCase, normalizeType(parts(1)))
        }
      }
      val bodyExpr = CatalystSqlParser.parseExpression(body)
      val retDt = CatalystSqlParser.parseDataType(normalizeType(retType))
      val argDts = args.map(a => CatalystSqlParser.parseDataType(a._2))
      val argIndex = args.map(_._1).zipWithIndex.toMap
      val builder: Seq[Expression] => Expression = { exprs =>
        require(exprs.length == args.length,
          s"$name expects ${args.length} arguments, got ${exprs.length}")
        val castArgs = exprs.zip(argDts).map { case (e, dt) => Cast(e, dt) }
        val substituted = bodyExpr.transformUp {
          case a: UnresolvedAttribute if argIndex.contains(a.name.toLowerCase) =>
            castArgs(argIndex(a.name.toLowerCase))
        }
        Cast(substituted, retDt)
      }
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, builder, "sql_udf")
      name
  }
}

/** Statement router — the engine's SQL entry point covering the reference's
  * statement surface (SURVEY §3.1: SQL, pipe-SQL, CREATE FUNCTION, COPY, SET;
  * reference parser.y:440-444 statement alternatives). */
object GraftSql {
  private val copyRe =
    """(?is)^\s*COPY\s+(\w+)\s+FROM\s+'([^']+)'\s*(?:\(\s*(.*?)\s*\))?\s*;?\s*$""".r
  /** Postgres-legacy un-parenthesized COPY options (reference
    * test/lit/SQL/syntax.sql: `copy t from 'f' csv escape '\' delimiter
    * '|' null ''`): bare flags and `key 'value'` pairs after the path. */
  private val copyLegacyRe =
    """(?is)^\s*COPY\s+(\w+)\s+FROM\s+'([^']+)'\s+((?:\w+(?:\s+'[^']*')?\s*)+);?\s*$""".r
  private val setRe = """(?is)^\s*SET\s+(\S+)\s*(?:=|TO)\s*'?([^';]*)'?\s*;?\s*$""".r

  // every INSERT form that can hit an indexed table: INTO/OVERWRITE, optional
  // TABLE keyword, quoted and schema-qualified names (last path component is
  // the registered name) — a miss here would resolve the write against the
  // stale index shadow and silently discard it
  private val insertRe =
    """(?is)^\s*INSERT\s+(?:OVERWRITE\s+|INTO\s+)(?:TABLE\s+)?["`]?(?:\w+\s*\.\s*)?(\w+)["`]?\b.*$""".r
  private val insertOverwriteRe = """(?is)^\s*INSERT\s+OVERWRITE\b.*$""".r
  // plain INSERT INTO with NO column list: the source query after the table
  // name (VALUES/SELECT/WITH/TABLE/FROM) is itself runnable, giving us the
  // delta rows for O(delta) index maintenance
  private val insertSourceRe =
    """(?is)^\s*INSERT\s+INTO\s+(?:TABLE\s+)?["`]?(?:\w+\s*\.\s*)?\w+["`]?\s+((?:VALUES|SELECT|WITH|TABLE|FROM)\b.*?)\s*;?\s*$""".r
  private val createTableRe = """(?is)^\s*CREATE\s+TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?(\w+)\b.*$""".r
  private val dropTableRe = """(?is)^\s*DROP\s+TABLE\s+(?:IF\s+EXISTS\s+)?(\w+)\s*;?\s*$""".r

  /** The rows an `INSERT INTO t <query>` will add, materialized BEFORE the
    * insert runs (localCheckpoint — `INSERT INTO t SELECT * FROM t` must not
    * re-read post-insert state). None for OVERWRITE / column-list / any
    * unrunnable source → the caller falls back to a full index rebuild. */
  private def insertDelta(spark: SparkSession, stmt: String): Option[DataFrame] =
    if (insertOverwriteRe.matches(stmt)) None
    else stmt match {
      case insertSourceRe(src) =>
        Try(spark.sql(SqlCanonicalizer(src)).localCheckpoint()).toOption
      case _ => None
    }

  /** Execute one statement; DDL/utility statements return an empty frame. */
  def apply(spark: SparkSession, stmt: String): DataFrame = {
    val s = stmt.trim
    if (IndexSurface.isCreateIndex(s)) {
      // Secondary hash indexes drive the reference's index-nested-loop joins
      // (src/runtime/LingoDBHashIndex.cpp); the Spark-native equivalent is a
      // bucketed+sorted physical layout — see IndexSurface.
      IndexSurface.create(spark, s)
      spark.emptyDataFrame
    } else if (IndexSurface.isDropIndex(s)) {
      IndexSurface.drop(spark, s)
      spark.emptyDataFrame
    } else if (UdfSurface.isCreateFunction(s)) {
      UdfSurface.execute(spark, s); spark.emptyDataFrame
    } else if (copyRe.findFirstIn(s).isDefined || copyLegacyRe.findFirstIn(s).isDefined) {
      // Postgres/DuckDB COPY options: keys case-insensitive, VALUES
      // case-sensitive ('a' != 'A'); a bare flag token means true. The
      // parenthesized form splits on commas outside quotes (DELIMITER ','
      // survives tokenization); the legacy form scans `flag | key 'value'`
      // tokens.
      val (table, path, opts) = s match {
        case copyRe(t, p, optStr) =>
          (t, p, Option(optStr).getOrElse("")
            .split(",(?=(?:[^']*'[^']*')*[^']*$)").map(_.trim)
            .filter(_.nonEmpty)
            .map { o =>
              val kv = o.split("\\s+", 2)
              val key = kv(0).toUpperCase
              if (kv.length == 2) key -> kv(1).trim.replaceAll("^'|'$", "")
              else key -> "TRUE"
            }.toMap)
        case copyLegacyRe(t, p, optStr) =>
          (t, p, """(\w+)(?:\s+'([^']*)')?""".r.findAllMatchIn(optStr).map { m =>
            m.group(1).toUpperCase -> Option(m.group(2)).getOrElse("TRUE")
          }.toMap)
      }
      val delim = opts.getOrElse("DELIMITER", ",")
      val header = opts.get("HEADER").exists(v => !v.equalsIgnoreCase("FALSE") && v != "0")
      val reader0 = spark.read
        .option("delimiter", delim).option("header", header.toString)
        .option("nullValue", opts.getOrElse("NULL", ""))
      val reader = opts.get("ESCAPE").fold(reader0)(e => reader0.option("escape", e))
      IndexSurface.beforeWrite(spark, table) // resolve past any index shadow
      if (Try(spark.catalog.tableExists(table)).getOrElse(false)) {
        // Declared-schema table: COPY appends with the table's types, like the
        // reference's catalog append (reference src/runtime/RelationHelper.cpp:93-145)
        val target = spark.table(table)
        val df = reader.schema(target.schema).csv(path)
        df.write.mode("append").insertInto(table)
        // the CSV frame IS the delta (stable re-read): O(delta) index append
        IndexSurface.afterWrite(spark, table, Some(df))
      } else {
        // no declared target: expose the file as an inferred-schema view
        reader.option("inferSchema", "true").csv(path).createOrReplaceTempView(table)
      }
      spark.emptyDataFrame
    } else if (setRe.findFirstIn(s).isDefined && s.toUpperCase.startsWith("SET")) {
      val setRe(key, value) = s
      spark.conf.set(key, value.trim)
      spark.emptyDataFrame
    } else if (SqlScan.splitTop(s, "|>").length > 1) {
      PipeSql.sql(spark, s)
    } else {
      // index maintenance around DML/DDL that mutates an indexed table: an
      // INSERT must reach the BASE table (not the index's shadow view) and
      // the bucketed snapshot is rebuilt afterwards; re-CREATE/DROP of the
      // table discards its indexes (reference IndexCatalogEntry lifecycle)
      s match {
        case insertRe(table) if IndexSurface.indexedTables(spark)(table.toLowerCase) =>
          val delta = insertDelta(spark, s) // capture BEFORE the write runs
          // UNIQUE violations reject here, leaving the base table unchanged
          IndexSurface.preWriteCheck(spark, table, delta)
          IndexSurface.beforeWrite(spark, table)
          val r = runDml(spark, s)
          IndexSurface.afterWrite(spark, table, delta)
          return r
        case createTableRe(table) =>
          IndexSurface.invalidate(spark, table)
          // `PRIMARY KEY (cols)` table constraint (reference grammar):
          // Spark's parser rejects it, and the reference's PK is an index +
          // uniqueness contract — strip the clause, create, then build a
          // UNIQUE index on the key (IndexSurface enforces it on writes)
          primaryKeyRe.findFirstMatchIn(s).foreach { m =>
            val stripped = primaryKeyRe.replaceAllIn(s, "")
              .replaceAll(",\\s*\\)", ")") // a dangling comma the strip leaves
            spark.sql(SqlCanonicalizer(stripped)) : Unit
            IndexSurface.create(spark,
              s"CREATE UNIQUE INDEX graft_pk_$table ON $table(${m.group(1)})")
            return spark.emptyDataFrame
          }
        case dropTableRe(table) => IndexSurface.invalidate(spark, table)
        case _ =>
      }
      // engine-side canonicalization (outer-agg decomposition, deep-
      // correlation hoisting, …) — every SQL entry point gets it, not just
      // the sqllogictest harness
      runDml(spark, s)
    }
  }

  private val primaryKeyRe = """(?is),?\s*PRIMARY\s+KEY\s*\(([^)]*)\)""".r

  /** spark.sql with the engine's permissive INSERT cast matrix: ANSI store
    * assignment first; if the ONLY problem is a not-safely-castable column
    * (e.g. the reference corpus's `INSERT ... VALUES (..., 1, ...)` into a
    * BOOLEAN — db.cast allows int→bool), retry under the legacy store-
    * assignment policy for just this statement. Runtime overflow errors are
    * NOT retried — they are data errors, not type-matrix differences. */
  private def runDml(spark: SparkSession, s: String): DataFrame =
    try spark.sql(SqlCanonicalizer(s))
    catch {
      case e: org.apache.spark.sql.AnalysisException
          if e.getMessage.contains("CANNOT_SAFELY_CAST") &&
            insertRe.matches(s) =>
        // Run the retry in a CLONED session (same shared state/catalog/temp
        // views, separate SQL conf): flipping storeAssignmentPolicy on the
        // shared conf would momentarily relax the cast matrix for any
        // CONCURRENT statement on the session (ADVICE r10) — the clone
        // scopes LEGACY to exactly this one statement.
        val cloned = spark.newSession()
        spark.catalog.currentDatabase match {
          case db if db != "default" => cloned.sql(s"USE $db")
          case _ => ()
        }
        cloned.conf.set("spark.sql.storeAssignmentPolicy", "LEGACY")
        cloned.sql(SqlCanonicalizer(s))
    }
}
