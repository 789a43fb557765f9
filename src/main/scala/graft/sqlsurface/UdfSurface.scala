package graft.sqlsurface

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression}
import org.apache.spark.sql.catalyst.parser.CatalystSqlParser
import org.apache.spark.sql.catalyst.util.CharVarcharUtils.replaceCharVarcharWithString
import org.apache.spark.sql.types.DataType
import org.apache.spark.graft.PythonUdf
import graft.functions.{CInterp, CUdfExpression}

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
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
  * `return <expr>;` single-expression form are rewritten to the expression
  * when SQL reads it as C does; every other C body runs on CInterp.
  * `LANGUAGE sql` takes the expression directly.
  *
  * `LANGUAGE python` bodies run on CPython through Spark's own Python UDF
  * path, as the reference embeds CPython (py_interp bridge): all of Python
  * and every module the interpreter can import. CREATE FUNCTION runs the
  * interpreter Spark deploys workers with (`spark.pyspark.python`, then
  * PYSPARK_PYTHON, then `python3`) once: it execs the body as a module,
  * takes the def named after the SQL function as the entry point, wraps
  * it and cloudpickles the wrapper, which registers as an Arrow-batched
  * Python UDF (SQL_ARROW_BATCHED_UDF) behind the same argument casts as
  * every language.
  * The wrapper carries the null and type semantics, because Spark lifts a
  * Python UDF out of any Catalyst guard and evaluates it on every row:
  *  - a NULL argument returns NULL without calling the body (reference
  *    py-9);
  *  - integral returns truncate a float and take a bool as 0/1, double
  *    returns take an int, string returns take `str()` of any value — where
  *    stock Spark would silently return NULL — and any other mismatch on
  *    those types and boolean/date raises TypeError.
  * No interpreter, a pyspark that is missing or does not match the Spark
  * jars, no pyarrow, a body that does not exec (SyntaxError, NameError,
  * ...) or no def named after the function fails CREATE FUNCTION with the
  * interpreter's stderr, not the first row.
  *
  * Module globals persist across the rows of one task: each task unpickles
  * its own copy of the module state, and rows then share it (the JVM
  * interpreter this replaced re-ran the module per row). The reference's
  * python-udfs.test relies on neither behaviour — its bodies keep no
  * module state.
  */
object UdfSurface {
  private val createFnRe =
    """(?is)^\s*CREATE\s+(?:OR\s+REPLACE\s+)?FUNCTION\s+(\w+)\s*\(""".r
  private val returnsRe = """(?is)\s*RETURNS\s+(\w+(?:\s*\([\d\s,]*\))?)"""
  private val tailRe =
    (returnsRe + """\s+LANGUAGE\s+(\w+)\s+AS\s+\$\$(.*)\$\$\s*;?\s*$""").r
  /** Postgres also accepts the clause order `AS $$...$$ LANGUAGE x` (the
    * reference's python-udfs.test uses it). */
  private val tailRe2 =
    (returnsRe + """\s+AS\s+\$\$(.*)\$\$\s+LANGUAGE\s+(\w+)\s*;?\s*$""").r

  /** (name, argument list, return type, language, body) of a CREATE
    * FUNCTION statement; the argument list ends at its own closing paren,
    * so parameterized types (`varchar(3)`, `decimal(10,2)`) stay whole. */
  private def parse(stmt: String): Option[(String, String, String, String, String)] =
    createFnRe.findPrefixMatchOf(stmt).flatMap { m =>
      val close = SqlScan.closeParen(stmt, m.end - 1)
      val tail = if (close < 0) "" else stmt.substring(close + 1)
      (tail match {
        case tailRe(r, l, b) => Some((r, l, b))
        case tailRe2(r, b, l) => Some((r, l, b))
        case _ => None
      }).map { case (r, l, b) => (m.group(1), stmt.substring(m.end, close), r, l, b) }
    }

  def isCreateFunction(stmt: String): Boolean = parse(stmt).isDefined

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

  /** A `LANGUAGE c` body as a Catalyst expression, when it has one whose
    * SQL reading is its C reading; None sends it to CInterp. Bodies holding
    * `/`, `|`, `&`, `?` or `'` never qualify: SQL divides fractionally,
    * reads `||` as concatenation and `'a'` as a string, and cannot parse
    * `&&` or `?:`. */
  private def cMacro(body: String): Option[Expression] =
    if (body.exists("/|&?'".contains(_))) None
    else Try(CatalystSqlParser.parseExpression(translateCBody(body))).toOption

  /** The interpreter Spark itself deploys Python workers with:
    * `spark.pyspark.python`, then PYSPARK_PYTHON, then `python3`. */
  private[graft] def pythonExec(spark: SparkSession): String =
    spark.sparkContext.getConf.getOption("spark.pyspark.python")
      .orElse(sys.env.get("PYSPARK_PYTHON")).getOrElse("python3")

  /** Run by the interpreter once per CREATE FUNCTION; argv is the function
    * name, the return type's JSON and the Spark version, stdin the body.
    * Writes `major.minor\n` and the cloudpickled `(wrapper, returnType)`. */
  private val pickleHelper =
    """import sys, textwrap
      |body = sys.stdin.read()
      |name, ret_json, spark_version = sys.argv[1:]
      |try:
      |    import pyspark
      |except ImportError as e:
      |    sys.exit(f"pyspark is not importable by {sys.executable}: {e}")
      |if pyspark.__version__ != spark_version:
      |    sys.exit(f"pyspark {pyspark.__version__} ({pyspark.__file__}) does not match Spark {spark_version}")
      |from pyspark.sql.pandas.utils import require_minimum_pyarrow_version
      |require_minimum_pyarrow_version()
      |import datetime, types
      |from pyspark.serializers import CloudPickleSerializer
      |from pyspark.sql import types as T
      |ret = T._parse_datatype_json_string(ret_json)
      |module = {"__name__": "__main__"}
      |exec(compile(textwrap.dedent(body), name, "exec"), module)
      |fn = module.get(name)
      |if not isinstance(fn, types.FunctionType):
      |    sys.exit(f"the body defines no def named {name}")
      |if isinstance(ret, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
      |    kinds, conv = (int, float), int
      |elif isinstance(ret, (T.FloatType, T.DoubleType)):
      |    kinds, conv = (int, float), float
      |elif isinstance(ret, T.BooleanType):
      |    kinds, conv = bool, None
      |elif isinstance(ret, T.StringType):
      |    kinds, conv = object, str
      |elif isinstance(ret, T.DateType):
      |    kinds, conv = datetime.date, None
      |else:
      |    kinds, conv = object, None
      |def wrapper(*args):
      |    for a in args:
      |        if a is None:
      |            return None
      |    v = fn(*args)
      |    if v is None:
      |        return None
      |    if not isinstance(v, kinds):
      |        raise TypeError(f"{name} returned {v!r}: cannot convert to {ret.simpleString()}")
      |    return conv(v) if conv else v
      |sys.stdout.buffer.write(b"%d.%d\n" % sys.version_info[:2])
      |sys.stdout.buffer.write(CloudPickleSerializer().dumps((wrapper, ret)))
      |""".stripMargin

  /** Runs [[pickleHelper]] on `python`: the interpreter's `major.minor` and
    * the pickled command. Every failure — no interpreter, no (matching)
    * pyspark or pyarrow, a body that does not exec, no entry def — is an
    * IllegalArgumentException carrying the interpreter's stderr. */
  private[graft] def picklePython(python: String, name: String, retType: DataType,
      body: String, sparkVersion: String): (String, Array[Byte]) = {
    def fail(why: String) = throw new IllegalArgumentException(s"CREATE FUNCTION $name: $why")
    val errFile = Files.createTempFile("graft_pyudf", ".err")
    try {
      val pb = new ProcessBuilder(python, "-c", pickleHelper, name, retType.json, sparkVersion)
        .redirectError(errFile.toFile)
      PythonUdf.env.foreach { case (k, v) => pb.environment().put(k, v) }
      val p = try pb.start() catch {
        case e: java.io.IOException => fail(s"cannot run the Python interpreter: ${e.getMessage}")
      }
      // an interpreter that exits before reading stdin reports why on stderr
      try { val in = p.getOutputStream; in.write(body.getBytes(UTF_8)); in.close() }
      catch { case _: java.io.IOException => () }
      val out = p.getInputStream.readAllBytes()
      if (p.waitFor() != 0)
        fail(s"$python exited ${p.exitValue}:\n${Files.readString(errFile).trim}")
      val nl = out.indexOf('\n'.toByte)
      (new String(out, 0, nl, UTF_8), out.drop(nl + 1))
    } finally Files.delete(errFile)
  }

  /** Parse + register the function; returns its name. Every language casts
    * the call-site arguments to the declared types. */
  def execute(spark: SparkSession, stmt: String): String = {
    val (name, argList, retType, language, body) = parse(stmt).getOrElse(
      throw new IllegalArgumentException("not a CREATE FUNCTION statement"))
    // declared CHAR(n)/VARCHAR(n) cast as STRING, as Spark's own CAST reads them
    val args: Seq[(String, DataType)] =
      if (argList.trim.isEmpty) Nil
      else CatalystSqlParser.parseTableSchema(SqlCanonicalizer.canonColumns(argList)).fields
        .toSeq.map(f => (f.name.toLowerCase, replaceCharVarcharWithString(f.dataType)))
    val retDt = replaceCharVarcharWithString(
      CatalystSqlParser.parseDataType(SqlCanonicalizer.canonType(retType)))
    def register(source: String)(build: Seq[Expression] => Expression): String = {
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(name, { exprs =>
        require(exprs.length == args.length,
          s"$name expects ${args.length} arguments, got ${exprs.length}")
        build(exprs.zip(args).map { case (e, (_, dt)) => Cast(e, dt) })
      }, source)
      name
    }
    // the body as a Catalyst macro over the cast call-site arguments
    def registerMacro(bodyExpr: Expression): String = {
      val argIndex = args.map(_._1).zipWithIndex.toMap
      register("sql_udf") { castArgs =>
        Cast(bodyExpr.transformUp {
          case a: UnresolvedAttribute if argIndex.contains(a.name.toLowerCase) =>
            castArgs(argIndex(a.name.toLowerCase))
        }, retDt)
      }
    }
    language.toLowerCase match {
      case "python" =>
        // the def matching the SQL function name is the entry point (the
        // reference's convention); other defs in the body are helpers
        val python = pythonExec(spark)
        val (pythonVer, command) =
          picklePython(python, name, retDt, body.stripPrefix("\n"), spark.version)
        register("python_udf")(PythonUdf(name, command, python, pythonVer, retDt).builder)
      case "c" =>
        cMacro(body.trim).map(registerMacro).getOrElse {
          // statement-shaped C (loops, mutation, blocks) and C operators SQL
          // reads differently: interpreted per row — see CInterp
          val fn = CInterp.parse(args.map(_._1), body.trim)
          register("sql_udf")(CUdfExpression(fn, retDt, _))
        }
      case "sql" | "scala" => registerMacro(CatalystSqlParser.parseExpression(body.trim))
      case other => throw new IllegalArgumentException(s"unsupported UDF language: $other")
    }
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
          (t, p, SqlScan.splitTop(Option(optStr).getOrElse(""), ",").map(_.trim)
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
