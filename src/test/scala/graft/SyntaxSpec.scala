package graft

import graft.sqlsurface.{GraftSql, SqlCanonicalizer}
import graft.tools.SyntaxProbe
import scala.util.{Failure, Success, Try}

/** The reference's lit SQL syntax corpus (test/lit/SQL/syntax.sql, vendored
  * as slt/lit_syntax.sql): every statement must EXECUTE without error — the
  * lit runner only FileChecks the produced MLIR, so executes-clean is the
  * corpus's contract for an engine (97 lines / 77 `;`-statements: type
  * grammar incl. float(p)/bool, interval arithmetic, quantified ALL/ANY
  * comparisons, legacy-option COPY, PRIMARY KEY table constraints,
  * grouping-by-expression shapes, pipe-SQL with rollup).
  *
  * Plus value checks for the round-10 quantified-comparison rewrite
  * (SqlCanonicalizer.quantifiedCmp): exact 3-valued logic, every
  * expectation pinned against DuckDB 1.x.
  */
class SyntaxSpec extends SparkSpec {

  test("lit/SQL/syntax.sql: all 77 statements execute") {
    val work = java.nio.file.Files.createTempDirectory("graft_syntax_").toFile.getAbsolutePath
    SyntaxProbe.fixture(spark, work)
    SyntaxProbe.writeCsv(s"$work/t.csv")
    val src = scala.io.Source.fromInputStream(
      getClass.getResourceAsStream("/slt/lit_syntax.sql")).mkString
    val stmts = SyntaxProbe.statements(src)
    assert(stmts.size == 77, s"corpus drift: ${stmts.size} statements")
    val failures = stmts.flatMap { st =>
      val stmt = st.replace("'t.csv'", s"'$work/t.csv'") // lit cwd fixture
      Try(GraftSql(spark, stmt).collect()) match {
        case Success(_) => None
        case Failure(e) => Some(s"$stmt => ${e.getMessage.linesIterator.take(1).mkString}")
      }
    }
    assert(failures.isEmpty, failures.mkString("\n\n"))
    spark.sql("DROP TABLE IF EXISTS test")
    spark.sql("DROP TABLE IF EXISTS test_tmp")
  }

  test("quantified ALL/ANY comparisons: exact 3VL (DuckDB-pinned)") {
    def v(q: String): Any = {
      val r = GraftSql(spark, q).collect()(0)
      if (r.isNullAt(0)) null else r.get(0)
    }
    assert(v("select 1=all(select 1)") == true)
    assert(v("select 1=any(select 1)") == true)
    // no false comparison + a NULL comparison -> NULL (ALL), no true + NULL -> NULL (ANY)
    assert(v("select 1 = all(select * from (values (1),(NULL)) t(v))") == null)
    assert(v("select 2 = any(select * from (values (1),(NULL)) t(v))") == null)
    // a decisive value wins over a NULL
    assert(v("select 1 = all(select * from (values (1),(2)) t(v))") == false)
    assert(v("select 0 < any(select * from (values (1),(NULL)) t(v))") == true)
    // empty set: ANY -> false, ALL -> true
    assert(v("select 3 = any(select v from (values (1),(2)) t(v) where v > 5)") == false)
    assert(v("select 3 = all(select v from (values (1),(2)) t(v) where v > 5)") == true)
  }

  test("canonicalizer rewrites never fire inside literals or non-type positions") {
    // Spark's float(x) CAST-FUNCTION call is not a type spec (ADVICE r10)
    assert(GraftSql(spark, "SELECT float(30) AS f").collect()(0).get(0) == 30.0f)
    // type positions still canonicalize: :: and CAST ... AS
    assert(GraftSql(spark, "SELECT 1::float(30)").collect()(0).get(0) == 1.0d)
    assert(GraftSql(spark, "SELECT CAST(1 AS float(10))").collect()(0).get(0) == 1.0f)
    // a string literal carrying a quantified-comparison shape is data
    val lit = "x > ALL(SELECT 1)"
    assert(GraftSql(spark, s"SELECT '$lit' AS s").collect()(0).getString(0) == lit)
    // literal with float(30) text stays verbatim
    assert(SqlCanonicalizer("SELECT 'float(30)'") == "SELECT 'float(30)'")
    // CTAS: a column named bool in the select list survives
    assert(SqlCanonicalizer("CREATE TABLE t AS SELECT bool, x FROM test")
      == "CREATE TABLE t AS SELECT bool, x FROM test")
    // plain CREATE TABLE: bool/float(30) in the column list canonicalize
    assert(SqlCanonicalizer("CREATE TABLE t (a bool, b float(30))")
      == "CREATE TABLE t (a boolean, b double)")
    // unbalanced paren inside a literal must not mis-slice a real rewrite
    val q = "SELECT ')(' AS junk, 2 = ANY(SELECT 2) AS ok"
    val r = GraftSql(spark, q).collect()(0)
    assert(r.getString(0) == ")(" && r.getBoolean(1))
    // one statement per rewrite that the rewrite changes; the same text only
    // inside a string literal, or only inside a `--` comment, is left as is
    val triggers = Seq(
      "SELECT CAST(1 AS float(30))", // canonTypes
      "SELECT 1 > ALL(SELECT 1)", // quantifiedCmp
      "SELECT EXISTS(SELECT 1)", // existsNoFromToTrue
      "SELECT 1 FROM t INNER JOIN u ON t.x = (SELECT 1)", // joinOnSubqueryToWhere
      "SELECT (SELECT SUM(i1.i) FROM u) FROM t i1", // decomposeOuterAggs
      "SELECT i FROM t WHERE (SELECT SUM(y) FROM u) = (SELECT SUM(y) FROM u)", // cmpScalarSubqueriesToFrom
      "SELECT i FROM t i1 WHERE (SELECT i1.i = u.y FROM u)", // boolScalarFilterToExists
      "SELECT (SELECT (SELECT i1.i FROM u) FROM u) FROM t i1", // hoistDeepCorrelation
      "SELECT i FROM t i1 WHERE EXISTS (SELECT 1 FROM u WHERE (SELECT i1.i FROM u) = 1)", // flattenDivision
      "SELECT (SELECT 1)", // rewriteNoFromScalar
      "SELECT i FROM t ORDER BY i") // pgNullOrder
    def rewritten(s: String): String = SqlCanonicalizer.pgNullOrder(SqlCanonicalizer(s))
    for (code <- triggers) {
      assert(rewritten(code) != code, s"trigger does not fire: $code")
      for (q <- Seq(s"SELECT '$code' AS s", s"SELECT 1 AS s -- $code"))
        assert(rewritten(q) == q)
    }
    // a trailing comment stays after the added null ordering
    assert(SqlCanonicalizer.pgNullOrder("SELECT i FROM t ORDER BY i -- by i\nLIMIT 1")
      == "SELECT i FROM t ORDER BY i NULLS LAST -- by i\nLIMIT 1")
    // each of these came back with its literal rewritten
    spark.sql("SELECT 1 AS i, 1 AS x").createOrReplaceTempView("t")
    spark.sql("SELECT 1 AS y").createOrReplaceTempView("u")
    try Seq(
      "SELECT 'EXISTS(SELECT 1)' AS s" -> "EXISTS(SELECT 1)",
      "SELECT (SELECT 'SUM(i1.i)' FROM t) AS s FROM t i1" -> "SUM(i1.i)",
      "SELECT 'a INNER JOIN b ON (SELECT 1)' AS s FROM t INNER JOIN u ON t.x = (SELECT 1)" ->
        "a INNER JOIN b ON (SELECT 1)"
    ).foreach { case (q, lit) => assert(GraftSql(spark, q).collect()(0).getString(0) == lit, q) }
    finally Seq("t", "u").foreach(spark.catalog.dropTempView)
  }

  test("dialect type synonyms run through GraftSql alone, in type positions only") {
    import org.apache.spark.sql.types.{DoubleType, IntegerType, StringType}
    val r = GraftSql(spark, "SELECT 2::int4 AS a, CAST(1.5 AS float8) AS b, 'a'::text AS c")
    assert(r.schema.map(_.dataType) == Seq(IntegerType, DoubleType, StringType))
    assert(r.collect()(0).toSeq == Seq(2, 1.5d, "a"))
    spark.sql("DROP TABLE IF EXISTS syn_t")
    try {
      GraftSql(spark, "CREATE TABLE syn_t (a int4, b text, c varchar, d float8)")
      assert(spark.table("syn_t").schema.map(_.dataType) ==
        Seq(IntegerType, StringType, StringType, DoubleType))
    } finally spark.sql("DROP TABLE IF EXISTS syn_t")
    // a literal and an alias are not type positions
    assert(GraftSql(spark, "SELECT 'x::int4'").collect()(0).getString(0) == "x::int4")
    val alias = GraftSql(spark, "SELECT 1 AS real")
    assert(alias.columns.toSeq == Seq("real") && alias.collect()(0).getInt(0) == 1)
    for (q <- Seq("SELECT 'x::int4'", "SELECT 1 AS real")) assert(SqlCanonicalizer(q) == q)
  }

  test("EXISTS without FROM inside parentheses keeps the WHERE a filter") {
    spark.sql("SELECT * FROM VALUES (1, 10), (2, 20) AS v(i, j)").createOrReplaceTempView("t")
    try assert(GraftSql(spark, "SELECT i FROM t WHERE (EXISTS (SELECT 1, 2))").count() == 2)
    finally spark.catalog.dropTempView("t")
  }

  test("no-FROM set-operation operands survive canonicalization") {
    assert(GraftSql(spark, "SELECT 1 AS a UNION ALL (SELECT 2)").count() == 2)
  }

  test("no-FROM derived tables survive canonicalization (latent-bug pin)") {
    assert(GraftSql(spark, "SELECT * FROM (SELECT 1) t").collect()(0).get(0) == 1)
    assert(GraftSql(spark,
      "SELECT a FROM (SELECT 1 AS a) t JOIN (SELECT 2 AS b) u ON a < b")
      .collect()(0).get(0) == 1)
  }
}
